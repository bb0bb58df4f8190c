#!/usr/bin/env python
"""Dump every ``__spark_entry__.queries()`` result as canonical JSON.

Runs each registered query over the tables of one SF directory and writes
``{query name: {"columns": [...], "rows": [[...], ...]}}`` with the rows in
the canonical form the oracle test compares (``canon``: columns sorted by
name, floats rounded to 9 places, object/datetime values as strings, rows
sorted). Dumps taken from two checkouts diff empty exactly when every query
is value-identical:

    python dump_queries.py --sf-dir DIR [OUT]

``--sf-dir`` defaults to ``$SPARK_GRAFT_SF_DIR``. ``OUT`` defaults to
``sketchlib_query_dump.json`` in the system temp directory, outside the
checkout, so a dump never dirties the tree. The Spark session matches the
test suite's (``tests/conftest.py``), so sketch queries see the same
partition layout as in tier-1.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import tempfile
import time

import numpy as np
import pandas as pd


def canon(pdf: pd.DataFrame) -> pd.DataFrame:
    """Order- and dtype-insensitive canonical form of a result frame."""
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    for c in pdf.columns:
        if pdf[c].dtype == object:
            pdf[c] = pdf[c].astype(str)
        elif np.issubdtype(pdf[c].dtype, np.floating):
            pdf[c] = pdf[c].round(9)
        elif str(pdf[c].dtype).startswith("datetime"):
            pdf[c] = pdf[c].astype(str)
    return pdf.sort_values(list(pdf.columns), kind="stable").reset_index(drop=True)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out", nargs="?",
                    default=os.path.join(tempfile.gettempdir(), "sketchlib_query_dump.json"))
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR"))
    args = ap.parse_args(argv)
    if not args.sf_dir:
        ap.error("pass --sf-dir or set SPARK_GRAFT_SF_DIR")

    from pyspark.sql import SparkSession

    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("sketchlib-query-dump")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.driver.memory", "8g")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    dump = {}
    try:
        for name, q in sorted(entrymod.queries().items()):
            t0 = time.perf_counter()
            pdf = canon(q(spark, args.sf_dir).toPandas())
            dump[name] = {"columns": list(pdf.columns),
                          "rows": pdf.to_numpy(dtype=object).tolist()}
            print(f"{name}: {len(pdf)} rows, {time.perf_counter() - t0:.1f} s", file=sys.stderr)
    finally:
        spark.stop()
    with open(args.out, "w") as f:
        json.dump(dump, f, indent=1, sort_keys=True, default=str)
    print(args.out)
    return 0


if __name__ == "__main__":
    sys.exit(main())
