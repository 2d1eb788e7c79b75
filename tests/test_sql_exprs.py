"""Wide numeric expressions emitted as SQL text (functions/similarity.py,
functions/dedup.py): the literal renderer and the vector builders must be
bit-exact against the values ``F.lit`` would carry and against a
sequential-fold reference, and building them must cost a number of py4j
round trips that does not grow with the vector width or the hash count."""

import math
import struct

import numpy as np
import pytest
from pyspark.sql import functions as F

from stdb_spark.functions import dedup, similarity
from stdb_spark.functions.similarity import _sql_array, _sql_lit

ADVERSARIAL = [
    -0.0,
    5e-324,
    -2.2250738585072014e-308,
    1e308,
    1e-05,
    -1.5e20,
    1 / 3,
]
INTS = [2**31 - 1, 2**31, -(2**31), -(2**31) - 1, 0, 7]


def _bits(x):
    return struct.pack(">d", x)


def _same_doubles(got, want):
    assert len(got) == len(want)
    for g, w in zip(got, want):
        if math.isnan(w):
            assert math.isnan(g), (got, want)
        else:
            assert _bits(g) == _bits(w), (got, want)


def test_double_literals_match_f_lit_bits_and_type(spark):
    df = spark.range(1).select(
        F.expr(_sql_array(ADVERSARIAL)).alias("sql"),
        F.array(*[F.lit(v) for v in ADVERSARIAL]).alias("lit"),
    )
    assert dict(df.dtypes) == {"sql": "array<double>", "lit": "array<double>"}
    row = df.first()
    _same_doubles(row.sql, row.lit)
    _same_doubles(row.sql, ADVERSARIAL)


def test_int_literals_match_f_lit_values_and_types(spark):
    cols = [F.expr(_sql_lit(v)).alias(f"s{i}") for i, v in enumerate(INTS)]
    cols += [F.lit(v).alias(f"l{i}") for i, v in enumerate(INTS)]
    df = spark.range(1).select(*cols)
    types = dict(df.dtypes)
    row = df.first()
    for i, v in enumerate(INTS):
        # bare ints type as INT or BIGINT exactly as F.lit does
        assert types[f"s{i}"] == types[f"l{i}"], (v, types)
        assert row[f"s{i}"] == row[f"l{i}"] == v
    arr = spark.range(1).select(
        F.expr(f"CAST({_sql_array(INTS)} AS ARRAY<BIGINT>)").alias("sql"),
        F.array(*[F.lit(v).cast("long") for v in INTS]).alias("lit"),
    )
    assert dict(arr.dtypes) == {"sql": "array<bigint>", "lit": "array<bigint>"}
    r = arr.first()
    assert r.sql == r.lit == INTS


def test_numpy_scalars_render_as_their_python_value():
    assert _sql_lit(np.float64(1 / 3)) == repr(1 / 3) + "D"
    assert _sql_lit(np.int64(2**40)) == str(2**40)


@pytest.mark.parametrize("bad", [float("nan"), float("inf"), float("-inf")])
def test_non_finite_literals_are_rejected(bad):
    with pytest.raises(ValueError):
        _sql_lit(bad)
    with pytest.raises(ValueError):
        similarity.cosine_expr("a", [1.0, bad])


def _fold_dot(a, b):
    acc = np.float64(0.0)
    with np.errstate(over="ignore", invalid="ignore"):  # 1e308 rows overflow
        for x, y in zip(a, b):
            acc = acc + np.float64(x) * np.float64(y)
    return float(acc)


def _fold_norm(a):
    return math.sqrt(_fold_dot(a, a))


def test_vector_builders_match_sequential_fold(spark):
    rows = [
        [-0.0, 5e-324, -2.2250738585072014e-308, 1e-05],
        [1 / 3, -1.5e20, 1e-05, 1e308],
        [1e308, 1e308, -1e308, 1 / 3],
        [0.1, 0.2, 0.3, 1 / 3],
    ]
    q = [1 / 3, -0.0, 1e-05, -1.5e20]
    df = spark.createDataFrame(
        [(i, r, list(reversed(r))) for i, r in enumerate(rows)],
        "id long, a array<double>, b array<double>",
    )
    out = df.select(
        "id",
        similarity.dot_expr("a", "b").alias("dot_ab"),
        similarity.dot_expr("a", q).alias("dot_aq"),
        similarity.norm_expr("a").alias("norm_a"),
        similarity.norm_expr(q).alias("norm_q"),
        similarity.cosine_expr("a", q).alias("cos_aq"),
        similarity.cosine_expr("a", "b").alias("cos_ab"),
    )
    assert all(t == "double" for c, t in out.dtypes if c != "id")
    for r in out.orderBy("id").collect():
        a = rows[r.id]
        b = list(reversed(a))
        _same_doubles(
            [r.dot_ab, r.dot_aq, r.norm_a, r.norm_q, r.cos_aq, r.cos_ab],
            [
                _fold_dot(a, b),
                _fold_dot(a, q),
                _fold_norm(a),
                _fold_norm(q),
                _fold_dot(a, q) / (_fold_norm(a) * _fold_norm(q)),
                _fold_dot(a, b) / (_fold_norm(a) * _fold_norm(b)),
            ],
        )


def test_vector_builders_resolve_qualified_names(spark):
    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [2.0, 4.0])], "id long, embedding array<float>"
    )
    out = (
        df.alias("a")
        .join(df.alias("b"), F.col("a.id") < F.col("b.id"))
        .select(similarity.cosine_expr("a.embedding", "b.embedding").alias("c"))
        .first()
    )
    assert out.c == pytest.approx(1.0, abs=1e-15)


def _py4j_calls(build):
    """py4j commands sent while ``build()`` runs, without the garbage
    collector's memory commands (their timing is Python GC's, not the
    build's)."""
    from py4j.clientserver import ClientServerConnection
    from py4j.protocol import MEMORY_COMMAND_NAME

    calls = [0]
    orig = ClientServerConnection.send_command

    def counted(conn, command):
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls[0] += 1
        return orig(conn, command)

    build()  # warm: first-use JVM class lookups are not the build's cost
    ClientServerConnection.send_command = counted
    try:
        build()
    finally:
        ClientServerConnection.send_command = orig
    return calls[0]


def test_py4j_calls_do_not_grow_with_vector_width(spark):
    counts = {}
    for dim in (8, 64):
        df = spark.createDataFrame(
            [(1, [0.5] * dim)], "vec_id long, embedding array<float>"
        )
        q = [math.sin(j) for j in range(dim)]
        counts[dim] = _py4j_calls(lambda: similarity.lsh_top_k(df, q, k=3))
    assert counts[64] <= counts[8], counts


def test_py4j_calls_do_not_grow_with_hash_count(spark):
    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "a b c d f")], "doc_id long, text string"
    )
    counts = {
        n: _py4j_calls(lambda: dedup.minhash_signatures(docs, num_hashes=n))
        for n in (16, 32)
    }
    assert counts[32] <= counts[16], counts
