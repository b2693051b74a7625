"""Regenerate ``digests.json``: the expected output digest of every
``query_batch`` query on the vendored sf0.01 tables.

Each digest comes from the query's registered DuckDB oracle: the oracle's
result is loaded into Spark, cast to the registered query's output schema
(same column order) and digested with ``lib.digest``. The one query without
an oracle, ``ksql_runbook_predictions``, is digested from whole-frame
``ml.predict.predict_arrays`` scoring over the batch runbook's enriched
windows. The script also runs every query and exits non-zero if its digest
differs, so it doubles as a check of the stored file.

    python3 perfbench/make_digests.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import batch  # noqa: E402
import lib  # noqa: E402


def oracle_frame(spark, con, sql: str, like):
    from pyspark.sql import functions as F

    table = con.execute(sql).arrow()
    df = spark.createDataFrame(table)
    types = dict(like.dtypes)
    return df.select(*[F.col(f"`{c}`").cast(types[c]).alias(c) for c in like.columns])


def runbook_reference(spark):
    """Whole-frame scoring of the runbook's enriched windows, the same
    identity tests/test_ksql_compat.py asserts."""
    from streaming_ml_with_ksql_spark.ksql import runbook
    from streaming_ml_with_ksql_spark.ml import predict

    runbook.run_runbook(spark, batch.DATA_DIR)
    enriched = spark.sql(
        """
        SELECT user_id, ip_address, window_start, window_end,
               array(country, platform) AS strs,
               array(product_views, listing_views, gallery_views, nb_orders) AS ints
        FROM aggregated_events_stream
        LEFT JOIN users ON aggregated_events_stream.user_id = users.id
        """
    )
    return predict.predict_arrays(enriched, "Bot Detector", "strs", "ints").drop("strs", "ints")


def main() -> int:
    import duckdb

    from streaming_ml_with_ksql_spark import registry

    spark = lib.start_session()
    con = duckdb.connect()
    for name in sorted(os.listdir(batch.DATA_DIR)):
        view = name.removesuffix(".parquet")
        con.execute(f"CREATE VIEW {view} AS SELECT * FROM '{batch.DATA_DIR}/{name}'")
    qs, oracles = registry.queries(), registry.oracle_sql()
    digests, bad = {}, []
    for name in batch.QUERIES:
        got_df = qs[name](spark, batch.DATA_DIR)
        got = lib.digest(got_df)
        batch.reset(spark)
        if name in oracles:
            ref = oracle_frame(spark, con, oracles[name], got_df)
        else:
            ref = runbook_reference(spark).select(*got_df.columns)
        want = lib.digest(ref)
        batch.reset(spark)
        digests[name] = {"rows": want[0], "hash": want[1]}
        print(f"{name}: oracle {want} query {got}", flush=True)
        if got != want:
            bad.append(name)
    with open(batch.DIGESTS_PATH, "w") as fh:
        json.dump({"sf": "0.01", "digests": digests}, fh, indent=1, sort_keys=True)
        fh.write("\n")
    spark.stop()
    if bad:
        print(f"digest mismatch: {bad}", file=sys.stderr)
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
