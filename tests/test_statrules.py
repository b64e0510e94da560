"""The shared rule-table engine (operators/statrules.py) on a
hand-built stats frame: Spark rules + report equal the numpy twin,
and the stats batch keeps undecoded rows and None stats as NaN."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BooleanType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)

from data_quality_check_spark.operators.statrules import (
    expected_rules,
    rounded,
    rule_report,
    stats_batch,
    with_rules,
)

SCHEMA = StructType([
    StructField("decoded", BooleanType()),
    StructField("n", IntegerType()),
    StructField("a", DoubleType()),
    StructField("b", DoubleType()),
])
RULES = [("a_ok", "a", 0.5, "ge"), ("b_ok", "b", 2.0, "le"),
         ("n_ok", "n", 3, "ge")]


def test_rules_and_report_match_numpy_twin(spark):
    st = pd.DataFrame({
        # at both thresholds | NaN stat | undecoded | over b | under a
        "decoded": [True, True, False, True, True],
        "n": np.array([3, 2, 0, 5, 4], dtype=np.int32),
        "a": [0.5, np.nan, np.nan, 0.7, 0.4999999],
        "b": [2.0, 1.0, np.nan, 2.5, 0.0],
    })
    ids = pd.Series(["r0", "r1", "r2", "r3", "r4"], name="rid")
    gate = np.array([True, True, True, True, False])  # True when undecoded
    exp = expected_rules(ids, SCHEMA, st, RULES, "keep", {"g_ok": gate})

    df = spark.createDataFrame(st.assign(rid=ids, g=gate))
    ruled = with_rules(df, RULES, "keep", gates={"g_ok": F.col("g")})
    got = ruled.select("rid", "decoded", "n", rounded("a"), rounded("b"),
                       "g_ok", "a_ok", "b_ok", "n_ok", "keep").toPandas()
    assert list(got.columns) == list(exp.columns)
    for c in exp.columns:
        x, y = exp[c], got[c]
        if c in ("a", "b"):
            x, y = x.astype("float64"), y.astype("float64")
            assert ((x == y) | (x.isna() & y.isna())).all(), c
        else:
            assert (x.to_numpy() == y.to_numpy()).all(), c
    assert exp["keep"].tolist() == [True, False, False, False, False]

    cols = ["g_ok", *(r[0] for r in RULES)]
    rep = rule_report(ruled, cols, "keep", "n_rows").collect()[0].asDict()
    want = {"n_rows": len(exp), "n_decoded": int(exp["decoded"].sum())}
    want.update({f"bad_{c[:-3]}": int((~exp[c]).sum()) for c in cols})
    want.update(n_keep=int(exp["keep"].sum()),
                keep_rate=round(float(exp["keep"].mean()), 6))
    assert rep == want


def test_stats_batch_undecoded_rows_and_none_stats():
    def decode(blob):
        if blob == b"bad":
            raise ValueError("malformed")
        return len(blob)

    def stats(n):
        return {"n": n, "a": n / 10, "b": None if n == 1 else float(n)}

    blobs = pd.Series([b"abc", None, b"bad", b"x"], dtype=object)
    st = stats_batch(SCHEMA, decode, stats, blobs)
    assert list(st.columns) == [f.name for f in SCHEMA.fields]
    assert st["decoded"].tolist() == [True, False, False, True]
    assert st["n"].tolist() == [3, 0, 0, 1]
    assert st["a"][[1, 2]].isna().all() and st["a"][3] == 0.1
    assert st["b"][0] == 3.0 and np.isnan(st["b"][3])  # None stays NaN
    # a kernel fault is not a malformed blob: it fails loudly
    with pytest.raises(ZeroDivisionError):
        stats_batch(SCHEMA, decode, lambda n: 1 // 0, blobs)
