"""Upload-output digest: post every ``perfbench/uploads`` kind to an
in-process ``EtlServer`` and record what each upload produced, so two
checkouts can be compared for output parity.

Per upload it records the output CSV (exact bytes, as a hash, and its
sorted lines), the response table and the schema artifact minus its
run-dependent ``schema_id`` and ``generated_at``.

Usage:
  python scripts/upload_parity.py --seeds 31 32 --out a.json      # in checkout A
  python scripts/upload_parity.py --seeds 31 32 --out b.json      # in checkout B
  python scripts/upload_parity.py --compare a.json b.json
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "perfbench"))

# (kind, records): the benchmark cycle's three documents first, in its
# order, then the two kinds it generates but does not time
KINDS = [
    ("mixed_text", 10),
    ("json_flat", 20_000),
    ("csv", 2000),
    ("json_nested", 2000),
    ("kv_text", 500),
]


def digest(seeds: list[int]) -> dict[str, dict]:
    import numpy as np
    import uploads

    from etl_pipeline_project_auraverse_spark.server import EtlServer
    from etl_pipeline_project_auraverse_spark.session import get_spark

    spark = get_spark(
        app_name="upload-parity", extra_conf={"spark.ui.showConsoleProgress": "false"}
    )
    out: dict[str, dict] = {}
    with tempfile.TemporaryDirectory() as work:
        srv = EtlServer(work, spark=spark)
        srv.start()
        try:
            for seed in seeds:
                for index, (kind, n) in enumerate(KINDS):
                    rng = np.random.default_rng([seed, index])
                    up = uploads._MAKERS[kind](rng, index, n)
                    resp = srv._run_etl(up.filename, up.payload)
                    with open(os.path.join(work, "data", "output.csv"), "rb") as f:
                        csv_bytes = f.read()
                    schema = {
                        k: v
                        for k, v in (resp.get("schema") or {}).items()
                        if k not in ("schema_id", "generated_at")
                    }
                    lines = sorted(csv_bytes.decode().splitlines())
                    out[f"{seed}/{kind}"] = {
                        "success": resp.get("success"),
                        "csv_sha256": hashlib.sha256(csv_bytes).hexdigest(),
                        "csv_sorted_lines": lines,
                        "table": resp.get("table"),
                        "schema": schema,
                    }
                    print(f"{seed}/{kind}: success={resp.get('success')} lines={len(lines)}")
        finally:
            srv.stop()
            spark.stop()
    return out


def compare(a_path: str, b_path: str) -> int:
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    bad = 0
    for key in sorted(set(a) | set(b)):
        if key not in a or key not in b:
            print(f"{key}: only in {'A' if key in a else 'B'}")
            bad += 1
            continue
        diff = [part for part in a[key] if a[key][part] != b[key][part]]
        print(f"{key}: {'identical' if not diff else 'DIFFERS in ' + ', '.join(diff)}")
        bad += bool(diff)
    print(f"{len(set(a) | set(b)) - bad} identical, {bad} differ")
    return 1 if bad else 0


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, nargs="+", default=[31, 32])
    ap.add_argument("--out")
    ap.add_argument("--compare", nargs=2, metavar=("A", "B"))
    args = ap.parse_args()
    if args.compare:
        return compare(*args.compare)
    with open(args.out, "w") as f:
        json.dump(digest(args.seeds), f)
    return 0


if __name__ == "__main__":
    sys.exit(main())
