#!/usr/bin/env python3
"""Seeded generator of the ingest corpus.

Writes a tree in the reference's layout, split into arrival batches:

    <out>/batch_<kk>/<day>/rxndata_<uuid>.csv
    <out>/batch_<kk>/<day>/metadata_<uuid>.json
    <out>/manifest.json          what a correct pipeline must produce

One CSV plus one metadata JSON per simulation. Row counts are
heavy-tailed (many small files, a few large ones), normalised per batch so
every batch carries the same number of rows. About half the CSVs carry
the pandas `Unnamed: 0` index column. About 10% of the metadata files
arrive one batch after their CSV, so the backfill has work. About 2% of
the CSVs, and at least one of each kind, are invalid (a required column
missing, or an in-file SimulationID that disagrees with the file name)
and must be quarantined; each has the mean row count.

The same seed gives a byte-identical tree; the corpus depends on nothing
but the seed and the size.

    python3 perfbench/gen_corpus.py --seed 7 --out <dir> [--size smoke]
"""
import argparse
import datetime
import json
import math
import os
import random
import uuid

HEADER = ["Unnamed: 0", "SimulationID", "CA (mol/m^3)", "CB (mol/m^3)",
          "CC (mol/m^3)", "CD (mol/m^3)", "T (K)", "Tsensor (K)", "t (sec)"]

SIZES = {
    # sims, batches, mean rows per CSV
    "full": (24, 2, 2700),
    "smoke": (8, 2, 50),
}

REACTIONS = ["A+B->C", "A->C+D", "2A->D", "A+B->C+D", "A<->C"]
STOP_REASONS = ["converged", "max_time", "threshold", "manual"]
BASE_DAY = datetime.date(2026, 1, 5)
DT = 0.5  # seconds between samples


def _uuid(rng):
    return str(uuid.UUID(int=rng.getrandbits(128), version=4))


def _fmt(x):
    return f"{x:.6f}"


def plan(seed, size):
    """Decide every simulation's shape; no I/O."""
    n_sims, n_batches, mean_rows = SIZES[size]
    rng = random.Random(seed)
    sims = []
    for i in range(n_sims):
        b = i * n_batches // n_sims
        sims.append({
            "id": _uuid(rng),
            "batch": b,
            "meta_batch": b,
            "day": str(BASE_DAY + datetime.timedelta(days=2 * b + rng.randrange(2))),
            "artifact": rng.random() < 0.5,
            "weight": min(rng.paretovariate(1.2), 60.0),
            "invalid": None,
        })
    # ~10% of metadata arrives one batch late (never past the last batch)
    early = [s for s in sims if s["batch"] < n_batches - 1]
    for s in rng.sample(early, max(1, round(0.10 * len(sims)))):
        s["meta_batch"] = s["batch"] + 1
    # ~2% invalid CSVs, alternating the two quarantine reasons
    n_bad = max(2, round(0.02 * len(sims)))
    for k, s in enumerate(rng.sample(sims, n_bad)):
        s["invalid"] = "missing_column" if k % 2 == 0 else "id_mismatch"
    # an invalid CSV has the mean size; the valid ones share the rest of
    # their batch's rows by heavy-tailed weight, so every batch stores
    # the same number of rows whichever files the seed makes invalid
    for b in range(n_batches):
        members = [s for s in sims if s["batch"] == b]
        valid = [s for s in members if not s["invalid"]]
        total = sum(s["weight"] for s in valid)
        for s in members:
            s["rows"] = (mean_rows if s["invalid"] else
                         max(5, int(round(s["weight"] / total * mean_rows * len(valid)))))
    for s in sims:
        s["date_run"] = str(datetime.date(2025, 6, 1)
                            + datetime.timedelta(days=rng.randrange(120)))
        s["params"] = {
            # the decay spans the same share of every run, so files
            # compress alike whatever their length
            "k": rng.uniform(2.0, 4.0) / max((s["rows"] - 1) * DT, 1.0),
            "ca0": rng.uniform(500.0, 2000.0),
            "cb0": rng.uniform(500.0, 2000.0),
            "t0": rng.uniform(290.0, 350.0),
            "ea": rng.uniform(40000.0, 90000.0),
            "reaction": rng.choice(REACTIONS),
            "stop": rng.choice(STOP_REASONS),
            "noise_seed": rng.getrandbits(32),
        }
        if s["invalid"] == "id_mismatch":
            s["in_file_id"] = _uuid(rng)
    return sims, n_batches


def csv_text(s):
    p = s["params"]
    header = list(HEADER)
    if not s["artifact"]:
        header.remove("Unnamed: 0")
    if s["invalid"] == "missing_column":
        header.remove("Tsensor (K)")
    in_id = s.get("in_file_id", s["id"])
    noise = random.Random(p["noise_seed"])
    lines = [",".join(header)]
    for i in range(s["rows"]):
        t = i * DT
        decay = math.exp(-p["k"] * t)
        ca = p["ca0"] * decay
        cb = p["cb0"] - (p["ca0"] - ca) * 0.5
        cc = (p["ca0"] - ca) * 0.7
        cd = (p["ca0"] - ca) * 0.3
        temp = p["t0"] + 12.0 * (1.0 - decay)
        vals = {
            "Unnamed: 0": str(i),
            "SimulationID": in_id,
            "CA (mol/m^3)": _fmt(ca),
            "CB (mol/m^3)": _fmt(cb),
            "CC (mol/m^3)": _fmt(cc),
            "CD (mol/m^3)": _fmt(cd),
            "T (K)": _fmt(temp),
            "Tsensor (K)": _fmt(temp + noise.gauss(0.0, 0.2)),
            "t (sec)": _fmt(t),
        }
        lines.append(",".join(vals[h] for h in header))
    return "\n".join(lines) + "\n"


def meta_text(s):
    p = s["params"]
    obj = {
        "simulation_id": s["id"],
        "reaction_name": p["reaction"],
        "activation_energy (J/mol)": round(p["ea"], 3),
        "CA0_(mol/m^3)": round(p["ca0"], 6),
        "CB0_(mol/m^3)": round(p["cb0"], 6),
        "T0_(K)": round(p["t0"], 6),
        "date_run": s["date_run"],
        "stop_reason": p["stop"],
        "stop_time_(s)": round((s["rows"] - 1) * DT, 6),
    }
    return json.dumps(obj, indent=2) + "\n"


def expected_numbering(sims, n_batches):
    """Dim surrogate numbers: each run numbers its new metadata by
    (date_run, simulation_id), continuing from the high-water mark."""
    num, hw = {}, 0
    for b in range(n_batches):
        arriving = sorted((s for s in sims if s["meta_batch"] == b),
                          key=lambda s: (s["date_run"], s["id"]))
        for s in arriving:
            hw += 1
            num[s["id"]] = hw
    return num


def _write(path, text):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8", newline="\n") as f:
        f.write(text)
    return len(text.encode("utf-8"))


def generate(seed, out, size="full"):
    sims, n_batches = plan(seed, size)
    csv_bytes = json_bytes = 0
    batches = [{"csv_files": 0, "json_files": 0} for _ in range(n_batches)]
    for s in sims:
        bdir = os.path.join(out, f"batch_{s['batch']:02d}", s["day"])
        csv_bytes += _write(os.path.join(bdir, f"rxndata_{s['id']}.csv"), csv_text(s))
        batches[s["batch"]]["csv_files"] += 1
        mdir = os.path.join(out, f"batch_{s['meta_batch']:02d}", s["day"])
        json_bytes += _write(os.path.join(mdir, f"metadata_{s['id']}.json"), meta_text(s))
        batches[s["meta_batch"]]["json_files"] += 1
    num = expected_numbering(sims, n_batches)
    manifest = {
        "seed": seed,
        "size": size,
        "batches": batches,
        "csv_bytes": csv_bytes,
        "json_bytes": json_bytes,
        "sims": [{
            "id": s["id"], "batch": s["batch"], "meta_batch": s["meta_batch"],
            "day": s["day"], "rows": s["rows"], "artifact": s["artifact"],
            "invalid": s["invalid"], "simulation_num": num[s["id"]],
        } for s in sims],
    }
    _write(os.path.join(out, "manifest.json"), json.dumps(manifest, indent=1) + "\n")
    return manifest


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--size", choices=sorted(SIZES), default="full")
    a = ap.parse_args()
    m = generate(a.seed, a.out, a.size)
    print(f"{len(m['sims'])} simulations, {m['csv_bytes'] + m['json_bytes']} bytes")


if __name__ == "__main__":
    main()
