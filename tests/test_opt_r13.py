"""Round-13 optimization pins (VERDICT r12 item 7): every JVM-parsed
``F.expr`` string builder that replaced a Column-object loop in r12 must
produce the IDENTICAL analyzed expression tree as that loop — results
cannot differ if the trees are equal.  Where the r12 rewrite was an
execution-mode change (nested HOF → unrolled codegen chain, so the trees
legitimately differ), the pin is exact VALUE equality on a hand-checked
frame instead.
"""

from __future__ import annotations

import re

from pyspark.sql import functions as F

from hadoop_coded_wordcount_spark.operators.dedup import (
    _MINHASH_P,
    _signature_col,
    minhash_params,
)


def _analyzed(df):
    # expression ids (#NNN) are allocation-order artifacts, not semantics
    s = re.sub(r"#\d+", "#x", df._jdf.queryExecution().analyzed().toString())
    # lambda variable NAMES are alpha-equivalent binders: the SQL parser
    # keeps the source name (`s`), the PySpark builder generates x_N
    s = re.sub(r"lambda [A-Za-z_][A-Za-z0-9_]*#x", "lambda v#x", s)
    # CreateNamedStruct prints as `named_struct(...)` when parsed from SQL
    # and `struct(...)` when built via F.struct — same node, same fields
    s = s.replace("named_struct(", "struct(")
    return s


# ---------------------------------------------------------------- dedup


def _grams_frame(spark):
    return spark.createDataFrame(
        [(1, ["a b c", "b c d"]), (2, ["x y z"])],
        "doc_id long, grams array<string>",
    )


def test_signature_col_same_tree(spark):
    k = 4
    df = _grams_frame(spark)
    sql = _signature_col(k)

    def mk(i):
        # NB: a default-arg capture (lambda s, _i=i: ...) would make
        # PySpark build a BINARY lambda from the 2-param signature.
        return F.array_min(
            F.transform("grams", lambda s: F.xxhash64(F.lit(i), s))
        )

    loop = F.array(*[mk(i) for i in range(k)])
    assert _analyzed(df.select(sql.alias("sig"))) == _analyzed(
        df.select(loop.alias("sig"))
    )


def test_minhash_wide_agg_same_tree(spark):
    df = spark.createDataFrame([(1, 7), (1, 9), (2, 3)], "doc_id long, x long")
    params = minhash_params(3)
    sql = df.groupBy("doc_id").agg(
        *[
            F.expr(f"MIN(({a} * x + {b}) % {_MINHASH_P}) AS m{i}")
            for i, (a, b) in enumerate(params)
        ]
    )
    loop = df.groupBy("doc_id").agg(
        *[
            F.min(
                (F.lit(a) * F.col("x") + F.lit(b)) % F.lit(_MINHASH_P)
            ).alias(f"m{i}")
            for i, (a, b) in enumerate(params)
        ]
    )
    assert _analyzed(sql) == _analyzed(loop)


def _wide_sig_frame(spark, k=4):
    return spark.createDataFrame(
        [tuple([1] + list(range(10, 10 + k)))],
        "doc_id long, " + ", ".join(f"m{i} long" for i in range(k)),
    )


def test_minhash_signature_unpivot_same_tree(spark):
    k = 4
    sig = _wide_sig_frame(spark, k)
    sql = F.expr(
        "array("
        + ", ".join(
            f"named_struct('perm', {i}, 'minhash', m{i})" for i in range(k)
        )
        + ")"
    )
    loop = F.array(
        *[
            F.struct(
                F.lit(i).alias("perm"), F.col(f"m{i}").alias("minhash")
            )
            for i in range(k)
        ]
    )
    assert _analyzed(sig.select(sql.alias("p"))) == _analyzed(
        sig.select(loop.alias("p"))
    )


def test_simhash_bitsum_and_fold_same_tree(spark):
    toks = spark.createDataFrame(
        [(1, "en", 5, 9), (1, "en", 6, 1)],
        "doc_id long, lang string, lo long, hi long",
    )
    nbits = 8  # pin shape with a narrow fold; production k=64 is the same builder
    sql_sums = [
        F.expr(
            "SUM(CASE WHEN (SHIFTRIGHT("
            f"{'lo' if i < 4 else 'hi'}, {i % 4}) & 1) = 1 "
            f"THEN 1 ELSE -1 END) AS b{i}"
        )
        for i in range(nbits)
    ]
    loop_sums = [
        F.sum(
            F.when(
                F.shiftright(
                    F.col("lo" if i < 4 else "hi"), i % 4
                ).bitwiseAND(F.lit(1))
                == 1,
                1,
            ).otherwise(-1)
        ).alias(f"b{i}")
        for i in range(nbits)
    ]
    assert _analyzed(
        toks.groupBy("doc_id", "lang").agg(*sql_sums)
    ) == _analyzed(toks.groupBy("doc_id", "lang").agg(*loop_sums))
    grouped = toks.groupBy("doc_id", "lang").agg(*sql_sums)
    sql_fold = F.expr(
        " | ".join(
            f"(CASE WHEN b{i} > 0 THEN SHIFTLEFT(CAST(1 AS BIGINT), {i}) "
            "ELSE CAST(0 AS BIGINT) END)"
            for i in range(nbits)
        )
    )
    loop_fold = None
    for i in range(nbits):
        term = (
            F.when(
                F.col(f"b{i}") > 0,
                F.shiftleft(F.lit(1).cast("bigint"), i),
            )
            .otherwise(F.lit(0).cast("bigint"))
        )
        loop_fold = term if loop_fold is None else loop_fold.bitwiseOR(term)
    assert _analyzed(grouped.select(sql_fold.alias("simhash"))) == _analyzed(
        grouped.select(loop_fold.alias("simhash"))
    )


def test_simhash_chunk_structs_same_tree(spark):
    s = spark.createDataFrame([(1, 0x1234)], "doc_id long, simhash long")
    sql = F.expr(
        "array("
        + ", ".join(
            f"named_struct('chunk', {c}, 'val', "
            f"SHIFTRIGHT(simhash, {c * 16}) & {0xFFFF})"
            for c in range(4)
        )
        + ")"
    )
    loop = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk"),
                F.shiftright(F.col("simhash"), c * 16)
                .bitwiseAND(F.lit(0xFFFF))
                .alias("val"),
            )
            for c in range(4)
        ]
    )
    assert _analyzed(s.select(sql.alias("cc"))) == _analyzed(
        s.select(loop.alias("cc"))
    )


def test_lsh_band_structs_same_tree(spark):
    k, bands, r = 4, 2, 2
    sig = _wide_sig_frame(spark, k)
    sql = F.expr(
        "array("
        + ", ".join(
            f"named_struct('band', {i}, 'bucket', md5(CAST(concat_ws(':'"
            + "".join(f", CAST(m{i * r + j} AS STRING)" for j in range(r))
            + ") AS BINARY)))"
            for i in range(bands)
        )
        + ")"
    )
    loop = F.array(
        *[
            F.struct(
                F.lit(i).alias("band"),
                F.md5(
                    F.concat_ws(
                        ":",
                        *[
                            F.col(f"m{i * r + j}").cast("string")
                            for j in range(r)
                        ],
                    ).cast("binary")
                ).alias("bucket"),
            )
            for i in range(bands)
        ]
    )
    assert _analyzed(sig.select(sql.alias("bb"))) == _analyzed(
        sig.select(loop.alias("bb"))
    )


# ------------------------------------------------------------- ingest


def test_cw_signature_col_same_tree(spark):
    from hadoop_coded_wordcount_spark.streaming.ingest_dedup import (
        _cw_signature_sql,
    )

    k = 3
    df = spark.createDataFrame([(1, [7, 9, 11])], "doc_id long, hx array<bigint>")
    sql = F.expr(_cw_signature_sql(k))

    def mk(a, b):
        return F.array_min(
            F.transform(
                "hx", lambda x: (F.lit(a) * x + F.lit(b)) % F.lit(_MINHASH_P)
            )
        )

    loop = F.array(*[mk(a, b) for a, b in minhash_params(k)])
    assert _analyzed(df.select(sql.alias("signature"))) == _analyzed(
        df.select(loop.alias("signature"))
    )


def test_band_bucket_same_tree(spark):
    from hadoop_coded_wordcount_spark.streaming.ingest_dedup import (
        _band_bucket_sql,
    )

    df = spark.createDataFrame(
        [(1, [5, 6, 7, 8])], "doc_id long, signature array<bigint>"
    )
    b, r = 1, 2
    sql = F.expr(_band_bucket_sql(b, r))
    loop = (
        F.conv(
            F.substring(
                F.md5(
                    F.concat_ws(
                        "|",
                        *[
                            F.element_at("signature", b * r + j + 1).cast(
                                "string"
                            )
                            for j in range(r)
                        ],
                    )
                ),
                1,
                14,
            ),
            16,
            10,
        ).cast("bigint")
    )
    assert _analyzed(df.select(sql.alias("bucket"))) == _analyzed(
        df.select(loop.alias("bucket"))
    )


def _ingest_features_columns(df, n, k, bands):
    """The Column-builder form of ``ingest_features`` that its SQL-string
    form replaced (same projections, one py4j call per node)."""
    from hadoop_coded_wordcount_spark.operators.dedup import tokens_col
    from hadoop_coded_wordcount_spark.streaming.ingest_dedup import (
        _band_bucket_sql,
        _cw_signature_sql,
    )

    r = k // bands
    with_toks = df.select("doc_id", tokens_col().alias("toks")).where(
        F.size("toks") >= n
    )
    grams = F.when(
        F.size("toks") >= n,
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(0), F.size("toks") - n),
                lambda i: F.concat_ws(
                    " ", *[F.element_at("toks", i + j + 1) for j in range(n)]
                ),
            )
        ),
    ).otherwise(F.array().cast("array<string>"))
    hx = F.transform(
        "grams",
        lambda g: F.conv(F.substring(F.md5(g), 1, 14), 16, 10).cast("long")
        % F.lit(_MINHASH_P),
    )
    sig = (
        with_toks.select("doc_id", grams.alias("grams"))
        .select("doc_id", hx.alias("hx"))
        .select("doc_id", F.expr(_cw_signature_sql(k)).alias("signature"))
    )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.expr(_band_bucket_sql(b, r)).alias("bucket"),
            )
            for b in range(bands)
        ]
    )
    return sig.select(
        "doc_id", "signature", F.explode(band_structs).alias("bb")
    ).select("doc_id", "signature", "bb.band", "bb.bucket")


def test_ingest_features_same_tree(spark):
    from hadoop_coded_wordcount_spark.streaming.ingest_dedup import (
        ingest_features,
    )

    df = spark.createDataFrame(
        [(1, "a b c d", "src0")], "doc_id long, text string, source string"
    )
    for n, k, bands in ((3, 32, 16), (2, 8, 4)):
        assert _analyzed(ingest_features(df, n=n, k=k, bands=bands)) == (
            _analyzed(_ingest_features_columns(df, n, k, bands))
        ), (n, k, bands)


def test_ingest_match_count_unroll_value_equal(spark):
    # Execution-mode change (interpreted nested HOF -> codegen CASE sum):
    # trees legitimately differ, so the pin is exact VALUE equality of the
    # screen's own expression.
    from hadoop_coded_wordcount_spark.streaming.ingest_dedup import (
        _match_count,
    )

    k = 8
    df = spark.createDataFrame(
        [
            ([1, 2, 3, 4, 5, 6, 7, 8], [1, 2, 0, 4, 0, 6, 0, 8]),
            ([0, 0, 0, 0, 0, 0, 0, 0], [1, 2, 3, 4, 5, 6, 7, 8]),
            ([5] * 8, [5] * 8),
        ],
        "signature array<bigint>, rep_sig array<bigint>",
    )
    unrolled = _match_count(k)
    hof = F.aggregate(
        F.zip_with(
            "signature", "rep_sig", lambda a, b: F.when(a == b, 1).otherwise(0)
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    rows = df.select(
        unrolled.alias("u"), hof.cast("int").alias("h")
    ).collect()
    assert [r.u for r in rows] == [r.h for r in rows] == [5, 0, 8]


# ------------------------------------------------------------- mleval


def test_label_centroid_aggs_same_tree(spark):
    dim = 3
    base = spark.createDataFrame(
        [(1, "a", [0.1, 0.2, 0.3]), (2, "a", [0.4, 0.5, 0.6])],
        "vec_id long, label string, emb array<double>",
    )
    sql = base.groupBy("label").agg(
        *[
            F.expr(
                f"CAST(SUM(CAST(ROUND(emb[{d}], 9) AS DECIMAL(28,9)))"
                f" AS DOUBLE) / CAST(COUNT(1) AS DOUBLE) AS c{d}"
            )
            for d in range(dim)
        ]
    )
    loop = base.groupBy("label").agg(
        *[
            (
                F.sum(
                    F.round(F.col("emb")[d], 9).cast("decimal(28,9)")
                ).cast("double")
                / F.count(F.lit(1)).cast("double")
            ).alias(f"c{d}")
            for d in range(dim)
        ]
    )
    assert _analyzed(sql) == _analyzed(loop)


# ------------------------------------------------------------ sketches


def test_ams_digit_extract_and_registers_same_tree(spark):
    df = spark.createDataFrame([(7,), (9,), (None,)], "k int")
    m = 8
    h = "md5(CAST(CAST(k AS STRING) AS BINARY))"
    sql_digits = df.where(F.col("k").isNotNull()).selectExpr(
        *[
            f"CAST(CONV(SUBSTRING({h}, {i + 1}, 1), 16, 10) AS INT) AS _d{i}"
            for i in range((m + 3) // 4)
        ]
    )
    hcol = F.md5(F.col("k").cast("string").cast("binary"))
    loop_digits = df.where(F.col("k").isNotNull()).select(
        *[
            F.conv(F.substring(hcol, i + 1, 1), 16, 10)
            .cast("int")
            .alias(f"_d{i}")
            for i in range((m + 3) // 4)
        ]
    )
    assert _analyzed(sql_digits) == _analyzed(loop_digits)

    sql_regs = sql_digits.agg(
        *[
            F.expr(
                f"CAST(COALESCE(SUM(CASE WHEN (SHIFTRIGHT(_d{j // 4},"
                f" {3 - j % 4}) & 1) = 1 THEN 1 ELSE -1 END), 0) AS BIGINT)"
                f" AS x{j}"
            )
            for j in range(m)
        ]
    )
    loop_regs = loop_digits.agg(
        *[
            F.coalesce(
                F.sum(
                    F.when(
                        F.shiftright(F.col(f"_d{j // 4}"), 3 - j % 4)
                        .bitwiseAND(F.lit(1))
                        == 1,
                        1,
                    ).otherwise(-1)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias(f"x{j}")
            for j in range(m)
        ]
    )
    assert _analyzed(sql_regs) == _analyzed(loop_regs)


def test_ams_registers_rejects_unsafe_identifier(spark):
    import pytest

    from hadoop_coded_wordcount_spark.operators.sketches import ams_registers

    df = spark.createDataFrame([(1,)], "k int")
    with pytest.raises(ValueError):
        ams_registers(df, "bad name")


# --------------------------------------------- mixed-operand normalization


def test_dot_unrolled_mixed_operands_value_equal(spark):
    # ADVICE r12: a (str, Column) call used to fall into the Column loop
    # where a[i] was python string indexing -> silent nulls. Now both
    # mixed forms must equal the all-string and all-Column forms.
    from hadoop_coded_wordcount_spark.operators.similarity import (
        dot_unrolled,
    )

    df = spark.createDataFrame(
        [([1.0, 2.0, 3.0], [4.0, 5.0, 6.0])],
        "a array<double>, b array<double>",
    )
    want = 1.0 * 4 + 2 * 5 + 3 * 6
    for x, y in [
        ("a", "b"),
        (F.col("a"), F.col("b")),
        ("a", F.col("b")),
        (F.col("a"), "b"),
    ]:
        got = df.select(dot_unrolled(x, y, 3).alias("v")).first().v
        assert got == want, (x, y, got)
