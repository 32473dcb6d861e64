"""Long-running soak driver for the concurrency + model fuzzes.

Replays the exact fuzz harnesses the suite pins (the WriteSerializable
concurrent-pair fuzz and the single-writer DML model fuzz from
``tests/test_maintenance.py``) over MANY seeds, in four table modes:
plain manifest pair, sharded pair (tiny thresholds), sharded pair
with a live bloom policy, and the bloomed single-writer model
fuzz.  The suite runs a handful of seeds per mode so CI
stays fast; this tool is the budget-bounded background sweep — the
pair fuzz has caught three real defects live (dv-target liveness,
PATH_NOT_FOUND stale-snapshot classification, and the round-13
superseded-snapshot staging mismatch), each at a seed the suite did
not carry, so widening the seed space is how the next one surfaces.

Usage:
    python tools/fuzz_soak.py [--seeds N] [--start S] \
        [--mode all|pair|pair-sharded|pair-sharded-bloom|model]

Prints one line per (mode, seed); failures are collected and re-printed
at the end with their full assertion payloads.  Exit 1 on any failure.
"""
from __future__ import annotations

import argparse
import shutil
import sys
import tempfile
import time
import traceback
from pathlib import Path

_REPO = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(_REPO))
sys.path.insert(0, str(_REPO / "tests"))

from retail_sales_data_pipeline_spark.session import get_spark  # noqa: E402
import retail_sales_data_pipeline_spark.sinks as S  # noqa: E402
from test_maintenance import (  # noqa: E402
    run_concurrent_pair_fuzz,
    run_dml_model_fuzz,
)


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", type=int, default=20)
    ap.add_argument("--start", type=int, default=1_000)
    ap.add_argument("--mode", default="all",
                    choices=["all", "pair", "pair-sharded",
                             "pair-sharded-bloom", "model"])
    ap.add_argument("--rounds", type=int, default=8)
    args = ap.parse_args()

    spark = get_spark(
        app_name="fuzz-soak",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={
            "spark.sql.warehouse.dir": tempfile.mkdtemp(prefix="spark_wh_")
        },
    )
    failures: list[tuple[str, int, str]] = []
    modes = (["pair", "pair-sharded", "pair-sharded-bloom", "model"]
             if args.mode == "all" else [args.mode])

    for i in range(args.seeds):
        seed = args.start + i
        for mode in modes:
            t0 = time.time()
            tmp = tempfile.mkdtemp(prefix=f"soak_{mode}_{seed}_")
            old_thr = S._SHARD_THRESHOLD
            old_sz = S._SHARD_SIZE
            try:
                if mode == "pair":
                    run_concurrent_pair_fuzz(
                        spark, f"{tmp}/t", seed, rounds=args.rounds)
                elif mode == "pair-sharded":
                    S._SHARD_THRESHOLD = 4
                    S._SHARD_SIZE = 2
                    run_concurrent_pair_fuzz(
                        spark, f"{tmp}/t", seed, rounds=args.rounds)
                elif mode == "pair-sharded-bloom":
                    S._SHARD_THRESHOLD = 4
                    S._SHARD_SIZE = 2
                    run_concurrent_pair_fuzz(
                        spark, f"{tmp}/t", seed,
                        rounds=max(4, args.rounds - 2),
                        bloom_cols=["id"])
                else:
                    run_dml_model_fuzz(
                        spark, f"{tmp}/t", tmp, seed,
                        steps=14, bloom_cols=["id"])
                print(f"OK   {mode:12s} seed={seed} "
                      f"({time.time() - t0:.1f}s)", flush=True)
                # passing seeds leave no residue (a 500-seed sweep
                # would otherwise fill /tmp and churn the page cache
                # the bench gate exists to defend against); failing
                # seeds keep their table dir for debugging
                shutil.rmtree(tmp, ignore_errors=True)
            except Exception:
                tb = traceback.format_exc()
                failures.append((mode, seed, tb))
                print(f"FAIL {mode:12s} seed={seed} dir={tmp}\n{tb}",
                      flush=True)
            finally:
                S._SHARD_THRESHOLD = old_thr
                S._SHARD_SIZE = old_sz

    print(f"\nsoak done: {len(failures)} failure(s)")
    for mode, seed, tb in failures:
        print(f"--- {mode} seed={seed}\n{tb}")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
