"""Checks a pipeline run's four sinks against the generator's planted truth.

    python3 perfbench/verify.py DATA_DIR OUT_DIR

OUT_DIR holds stage1.parquet, stage1.json, stage2.parquet and stage2.json
as written by one pipeline run. Every record must match
DATA_DIR/expected/records.jsonl exactly: the same kg2_ids, drug ids, names,
categories, indication map and mechanistic map (the Stage-1 map in the
Stage-1 sinks, the merged Stage-2 map in the Stage-2 sinks).
"""
import glob
import json
import os
import sys

import pyarrow.parquet as pq

MAPS = ("indication_NER_aligned", "mechanistic_intermediate_nodes")


def expected(data):
    """{stage: {kg2_id: canonical record}} from the planted truth."""
    out = {"stage1": {}, "stage2": {}}
    with open(os.path.join(data, "expected", "records.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            head = (r["drug_bank_id"], r["name"], r["category"],
                    tuple(map(tuple, r["ind"])))
            out["stage1"][r["kg2_id"]] = head + (tuple(map(tuple, r["mech1"])),)
            out["stage2"][r["kg2_id"]] = head + (tuple(map(tuple, r["mech2"])),)
    return out


def canonical(row, entries):
    return (row["drug_bank_id"], row["name"], row["category"]) + tuple(
        tuple(sorted((k, v["name"], v["category"]) for k, v in entries(row[m])))
        for m in MAPS)


def parquet_rows(path):
    cols = ["kg2_id", "drug_bank_id", "name", "category", *MAPS]
    return pq.read_table(path, columns=cols).to_pylist()


def json_rows(path):
    rows = []
    for part in sorted(glob.glob(os.path.join(path, "part-*"))):
        with open(part) as f:
            rows.extend(json.loads(line) for line in f if line.strip())
    return rows


def mismatches(data, out, truth=None):
    """Number of records that differ from the truth, over all four sinks."""
    truth = truth or expected(data)
    bad = 0
    for stage, want in truth.items():
        for sink, read, entries in (
                ("parquet", parquet_rows, lambda m: m or []),
                ("json", json_rows, lambda m: (m or {}).items())):
            got = {}
            for row in read(os.path.join(out, f"{stage}.{sink}")):
                key = row["kg2_id"]
                bad += key in got            # a record written twice
                got[key] = canonical(row, entries)
            bad += sum(1 for k in want.keys() | got.keys() if want.get(k) != got.get(k))
    return bad


if __name__ == "__main__":
    n = mismatches(sys.argv[1], sys.argv[2])
    print(f"{n} records differ from the planted truth")
    sys.exit(1 if n else 0)
