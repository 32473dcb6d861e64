"""profile -> advise -> lever, measured end-to-end (r5 verdict item 4).

Builds a deliberately skewed fact table (one hot key holding ~50% of
rows), runs the whole-table profiler, derives lever decisions with
``operators.profile.advise``, then MEASURES each advised lever against
its naive counterpart:

* salted_skew_join with the advised salt factor vs the plain shuffled
  join (wall-clock + max task-input skew via per-partition row counts);
* zorder_layout with the advised column order vs a linear single-column
  sort (files touched by a selective predicate on the OTHER column).

Usage:  python tools/advise_demo.py [n_rows]   (default 2_000_000)
"""

from __future__ import annotations

import random
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

from pyspark.sql import functions as F  # noqa: E402

from retail_sales_data_pipeline_spark.operators.layout import (  # noqa: E402
    boxes_touched,
    partition_boxes,
    zorder_layout,
)
from retail_sales_data_pipeline_spark.operators.profile import (  # noqa: E402
    advise,
    profile_table,
)
from retail_sales_data_pipeline_spark.operators.scale import (  # noqa: E402
    salted_skew_join,
)
from retail_sales_data_pipeline_spark.session import get_spark  # noqa: E402


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 2_000_000
    spark = get_spark(
        app_name="advise_demo", master="local[8]", shuffle_partitions=32
    )
    spark.sparkContext.setLogLevel("ERROR")

    # hot key 0 holds ~half the table; 2000 cold keys share the rest
    large = (
        spark.range(n)
        .select(
            F.when(F.rand(7) < 0.5, F.lit(0))
            .otherwise((F.rand(11) * 2000).cast("long") + 1)
            .alias("k"),
            (F.rand(13) * 1000).alias("x"),
            (F.rand(17) * 10).cast("long").cast("double").alias("coarse"),
        )
        .persist()
    )
    large.count()
    small = spark.range(2001).select(
        F.col("id").alias("k2"), F.concat(F.lit("dim-"), "id").alias("name")
    )

    t0 = time.monotonic()
    prof = profile_table(large, capacity=4096)
    adv = advise(prof)
    t_prof = time.monotonic() - t0
    print(
        f"profile+advise: {t_prof:.2f}s  salt={adv['salt']}  "
        f"dominance(k)={adv['dominance'].get('k', 0):.0f}  "
        f"zorder={adv['zorder']}  est_bytes={adv['est_bytes']:,}"
    )
    assert "k" in adv["salt"], "expected a salt recommendation for the hot key"

    def timed(label, df):
        t = time.monotonic()
        rows = df.count()
        dt = time.monotonic() - t
        print(f"{label}: {rows:,} rows in {dt:.2f}s")
        return dt

    # force a shuffled join so the salt has something to fix
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        t_plain = timed(
            "plain join   ", large.join(small, large["k"] == small["k2"])
        )
        t_salted = timed(
            "salted (advised)",
            salted_skew_join(large, small, on=("k", "k2"), advice=adv),
        )
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    print(f"salted/plain wall-clock ratio: {t_salted / t_plain:.2f}")

    # advised z-order vs linear sort on x: predicate on `coarse` can
    # prune only under the multi-dimension layout
    laid = zorder_layout(large, None, n_files=32, advice=adv)
    z_boxes = partition_boxes(laid, ["x", "coarse"])
    lin_boxes = partition_boxes(
        large.repartitionByRange(32, "x").sortWithinPartitions("x"),
        ["x", "coarse"],
    )
    z_t = boxes_touched(z_boxes, "coarse", 3.0, 3.0)
    lin_t = boxes_touched(lin_boxes, "coarse", 3.0, 3.0)
    print(
        f"files touched by coarse==3: zorder(advised)={z_t}/{len(z_boxes)} "
        f"vs linear-x={lin_t}/{len(lin_boxes)}"
    )
    assert z_t < lin_t, "advised layout should prune where linear cannot"
    large.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
