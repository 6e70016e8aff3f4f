"""Pin the result digests the query workloads check against.

    python3 perfbench/pin.py            # pins scales 0.01 and 0.001

For every query in ``ops.WORKLOADS`` this runs the query once through Spark
on the input tables under ``data/`` and, where the registry has a DuckDB oracle,
requires the Spark result to equal the oracle's (order-insensitive, the
same canonical form the benchmark digests). Queries without an oracle
(``dedup_minhash``, ``dedup_simhash``) are pinned as they stand. Pins are
written to ``digests.json`` only if every oracle comparison passes.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import run  # noqa: E402


def pin_scale(bench, scale: float) -> tuple[dict[str, str], list[str]]:
    import duckdb

    from datalake_brief_spark.catalog import TABLES
    from datalake_brief_spark.queries import QUERIES

    sf_dir = run.query_ops.data_dir(scale)
    con = duckdb.connect()
    for name in TABLES:
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{sf_dir}/{name}.parquet')"
        )
    pins, bad = {}, []
    names = sorted({n for names in run.query_ops.WORKLOADS.values() for n in names})
    for name in names:
        df = QUERIES[name].fn(bench.spark, sf_dir)
        rows = df.collect()
        oracle = QUERIES[name].oracle
        if oracle is not None:
            cur = con.execute(oracle)
            want_cols = [d[0] for d in cur.description]
            want = cur.fetchall()
            same = sorted(want_cols) == sorted(df.columns) and run.query_ops.canon(
                want, want_cols
            ) == run.query_ops.canon(rows, df.columns)
            if not same:
                bad.append(name)
        pins[name] = run.query_ops.digest(rows, df.columns)
        print(f"{scale} {name}: {len(rows)} rows, oracle "
              f"{'none' if oracle is None else 'ok' if name not in bad else 'MISMATCH'}",
              file=sys.stderr)
    con.close()
    return pins, bad


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--scale", type=float, action="append")
    scales = ap.parse_args().scale or [run.DEFAULT_SCALE, 0.001]
    root = os.path.join(run.REPO, ".perfbench_tmp", f"pin-{os.getpid()}")
    os.makedirs(os.path.join(root, "tmp"), exist_ok=True)
    os.environ["PYTHONPATH"] = run.REPO
    os.environ["TZ"] = "UTC"
    run.time.tzset()
    sys.path.insert(0, run.REPO)
    args = run.parse_args(["--workload", "analytics_read", "--seed", "0"])
    bench = run.Bench(args, root)
    try:
        bench.start_session()
        out, failed = {}, []
        for scale in scales:
            pins, bad = pin_scale(bench, scale)
            out[str(scale)] = pins
            failed += [f"{scale}:{n}" for n in bad]
    finally:
        bench.stop()
        shutil.rmtree(root, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(root))
        except OSError:
            pass
    if failed:
        print(f"oracle mismatch, nothing pinned: {failed}", file=sys.stderr)
        return 1
    with open(run.query_ops.DIGESTS_PATH, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    sys.exit(main())
