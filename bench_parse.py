"""Bulk line-protocol parse throughput harness — pins the two round-9
parse-path designs so regressions surface round-over-round (the role
bench_ingest.py / bench_compact.py play for flush and merge):

1. **single-pass distributed parse** (`parse_lines_df`): a multi-schema
   backfill corpus through ONE mapInPandas parse into the persisted
   typed-map intermediate, then every per-fingerprint frame consumed.
   The pre-r9 design re-parsed the corpus once per schema fingerprint
   (S+1 passes); the exactly-once contract is accumulator-asserted here
   as well as in tests.
2. **driver-side parse_line** (the HTTP door's hot loop), µs/line on
   each of its three routes: escape-free fast path, quoted string field
   without a backslash, and the general scanner (escaped tag);
3. **driver-side parse_lines** on ``perfbench.gen.lp_bodies`` request
   bodies (the ``lp_ingest`` mix: three measurements, string fields,
   5% escaped tags), µs/line including the batch build.

Usage: python bench_parse.py [n_lines] [n_schemas]
Prints ONE JSON line.
"""

from __future__ import annotations

import json
import sys
import time


def main() -> None:
    n_lines = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
    n_schemas = int(sys.argv[2]) if len(sys.argv) > 2 else 8

    from quackpipe_spark.session import get_spark
    from perfbench.gen import lp_bodies
    from quackpipe_spark.sources.lineproto import (
        parse_line,
        parse_lines,
        parse_lines_df,
    )

    spark = get_spark(app_name="quackpipe_parse_bench")
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000).repartition(32).mapInPandas(lambda it: it, "id long").count()

    def _line(i: int) -> str:
        s = i % n_schemas
        fields = ",".join(f"f{j}={i}.5" for j in range(s + 1))
        return f"m{s},host=h{i % 50} {fields} {1_700_000_000_000_000_000 + i}"

    # driver-side per-line cost on each parse_line route: fast path, a
    # quoted string field (no backslash), an escaped tag (general scanner)
    sample = [_line(i) for i in range(min(n_lines, 20_000))]

    def _us_per_line(lines) -> float:
        t0 = time.perf_counter()
        for r in lines:
            parse_line(r)
        return (time.perf_counter() - t0) / len(lines) * 1e6

    fast_us = _us_per_line(sample)
    quoted_us = _us_per_line(
        [r.replace(" f0=", ' msg="GET /v1/items, 200",f0=') for r in sample]
    )
    gen_us = _us_per_line([r.replace("host=", "ho\\ st=") for r in sample])
    bodies = [b.text.decode() for b in lp_bodies(1, 20, 1000)]
    t0 = time.perf_counter()
    body_lines = sum(b.num_rows() for t in bodies for b in parse_lines(t))
    parse_lines_us = (time.perf_counter() - t0) / body_lines * 1e6

    if n_lines > 1_000_000:
        # corpus generated EXECUTOR-side with the same formula (a
        # driver list-of-tuples at 20M lines spends minutes in pickle
        # transfer before the first parse) — bigint concat renders
        # without scientific notation, so lines are byte-identical to
        # the driver build
        from pyspark.sql import functions as F

        ldf = (
            spark.range(n_lines)
            .select(
                F.expr(
                    f"concat('m', pmod(id, {n_schemas}), ',host=h', pmod(id, 50), ' ', "
                    f"array_join(transform(sequence(0, cast(pmod(id, {n_schemas}) as int)), "
                    f"j -> concat('f', j, '=', id, '.5')), ','), "
                    f"' ', id + 1700000000000000000)"
                ).alias("value")
            )
            .repartition(32)
            .persist()
        )
    else:
        rows = [_line(i) for i in range(n_lines)]
        ldf = (
            spark.createDataFrame([(r,) for r in rows], "value string")
            .repartition(32)
            .persist()
        )
    ldf.count()
    acc = spark.sparkContext.accumulator(0)
    # same-window denominator (VERDICT r12 #4): the pinned kernel runs
    # immediately before and after the timed workload in THIS process, so
    # the recorded ratio is comparable across rounds while absolutes swing
    # with the box (commit cdbb87a: identical code 19-88 s cross-window)
    from bench_kernel import kernel_fields, pinned_kernel_s

    k_before = pinned_kernel_s()
    t0 = time.perf_counter()
    with parse_lines_df(spark, ldf, parse_counter=acc) as frames:
        n_frames = len(frames)
        total = sum(df.count() for _, _, df in frames)
    dt = time.perf_counter() - t0
    k_after = pinned_kernel_s()
    assert total == n_lines, f"row loss: {total} != {n_lines}"
    assert acc.value == n_lines, (
        f"exactly-once violated: {acc.value} parses for {n_lines} lines"
    )

    print(
        json.dumps(
            {
                "metric": "bulk_parse_throughput",
                "unit": "sec",
                "value": round(dt, 3),
                "lines": n_lines,
                "schemas": n_schemas,
                "frames": n_frames,
                "lines_per_s": round(n_lines / dt),
                "parses_per_line": 1,
                "driver_parse_us_per_line_fast": round(fast_us, 1),
                "driver_parse_us_per_line_quoted": round(quoted_us, 1),
                "driver_parse_us_per_line_general": round(gen_us, 1),
                "driver_parse_lines_us_per_line_lp_bodies": round(parse_lines_us, 1),
                **kernel_fields(k_before, k_after, dt),
            }
        )
    )
    ldf.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
