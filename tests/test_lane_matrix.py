"""Kind x lane matrix: which ``column_stats`` fields each column kind
fills. Pins every kind gate of the per-chunk stats builder, for a
populated chunk (one encode per ``bloom`` setting) and for an all-null
chunk (the builder called directly, no Spark job)."""

import pyarrow as pa
import pyspark.sql.functions as F
import pytest

from br_archive_spark.operators import encode_table
from br_archive_spark.operators.encode import _entry_stats, _extract

SPECS = [
    ("doc_id", "string"),
    ("i", "int"),
    ("d", "date"),
    ("ts", "timestamp"),
    ("dec", "decimal(10,2)"),
    ("b", "bool"),
    ("f", "float"),
    ("fl", "float_list"),
    ("il", "int_list"),
    ("s", "string"),
    ("bin", "binary"),
]

_COUNT = {"n_vals", "null_count"}
_INT = _COUNT | {"vmin", "vmax", "vsum"}
_SCALAR_INT_SKETCH = _INT | {"bloom", "hll", "topk", "hist", "qcut"}
_STR = _COUNT | {"smin", "smax"}
_FLOAT = _COUNT | {"fmin", "fmax"}

# non-null lanes of a populated chunk, by column
POPULATED = {
    True: {
        "doc_id": _STR | {"hll", "topk"},   # key: key_bloom, no bloom
        "i": _SCALAR_INT_SKETCH, "d": _SCALAR_INT_SKETCH,
        "ts": _SCALAR_INT_SKETCH, "dec": _SCALAR_INT_SKETCH,
        "b": _SCALAR_INT_SKETCH,
        "f": _FLOAT | {"hist", "fqcut"},
        "fl": _FLOAT,
        "il": _INT,
        "s": _STR | {"bloom", "hll", "topk"},
        "bin": {"null_count", "bloom", "hll"},
    },
    False: {
        "doc_id": _STR, "i": _INT, "d": _INT, "ts": _INT, "dec": _INT,
        "b": _INT, "f": _FLOAT, "fl": _FLOAT, "il": _INT, "s": _STR,
        "bin": {"null_count"},
    },
}

# non-null lanes of an all-null chunk ([] and zeroed registers count
# as present: "exactly zero of everything"), by kind
ALL_NULL = {
    True: {
        "int": _COUNT | {"vsum", "hll", "topk", "hist", "qcut"},
        "float": _COUNT | {"hist", "fqcut"},
        "float_list": _COUNT,
        "int_list": _COUNT | {"vsum"},
        "string": _COUNT | {"hll", "topk"},
        "binary": {"null_count", "hll"},
    },
    False: {
        "int": _COUNT | {"vsum"}, "float": _COUNT,
        "float_list": _COUNT, "int_list": _COUNT | {"vsum"},
        "string": _COUNT, "binary": {"null_count"},
    },
}

_META = {"name", "kind", "codec", "orig_bytes", "enc_bytes"}


def _table(spark):
    i = F.col("id")
    return spark.range(40).select(
        F.format_string("d%03d", i).alias("doc_id"),
        F.when(i % 7 == 0, None).otherwise(i * 3 - 50).alias("i"),
        F.date_add(F.lit("2000-01-01").cast("date"),
                   (i * 5).cast("int")).alias("d"),
        F.timestamp_seconds(F.lit(900000000) + i * 61).alias("ts"),
        (i / 4).cast("decimal(10,2)").alias("dec"),
        (i % 3 == 0).alias("b"),
        F.when(i % 5 == 0, None).otherwise(i / 8.0).alias("f"),
        F.array((i / 2).cast("float"), (i / 3).cast("float"))
        .alias("fl"),
        F.array(i.cast("int"), (i * 2).cast("int")).alias("il"),
        F.when(i % 6 == 0, None)
        .otherwise(F.format_string("s%d", i % 4)).alias("s"),
        F.encode(F.format_string("bin%02d", i), "utf-8").alias("bin"))


@pytest.mark.parametrize("bloom", [True, False])
def test_lane_matrix_populated(spark, bloom):
    enc = encode_table(_table(spark), specs=SPECS, key="doc_id",
                       mode="hash", num_parts=1, bloom=bloom)
    rows = enc.select("column_stats", "key_col", "key_bloom").collect()
    assert rows
    for row in rows:
        assert row["key_col"] == "doc_id"
        assert (row["key_bloom"] is not None) == bloom
        got = {s["name"]: {k for k, v in s.asDict().items()
                           if v is not None} - _META
               for s in row["column_stats"]}
        assert got == POPULATED[bloom]


@pytest.mark.parametrize("bloom", [True, False])
def test_lane_matrix_all_null_chunk(bloom):
    types = {"int": pa.int64(), "float": pa.float64(),
             "float_list": pa.list_(pa.float32()),
             "int_list": pa.list_(pa.int32()),
             "string": pa.string(), "binary": pa.binary()}
    tbl = pa.table({k: pa.nulls(3, t) for k, t in types.items()})
    for kind in types:
        data, validity = _extract(tbl, kind, kind)
        st = _entry_stats(kind, data, validity, bloom=bloom)
        assert {k for k, v in st.items() if v is not None} \
            == ALL_NULL[bloom][kind], kind
        assert st["null_count"] == 3
