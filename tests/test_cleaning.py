import math

from pyspark.sql import functions as F

from fbs_data_pipelines_spark.functions.cleaning import (
    cast_all_to_string,
    clean_percent,
    decimal_comma_to_double,
    drop_columns_matching,
    empty_to_null_all,
    map_values,
    nan_to_null_all,
    split_unnest,
)


def test_clean_percent(spark):
    df = spark.createDataFrame(
        [(" 950847 %",), ("12.5%",), ("junk",), ("",), (None,)], ["v"]
    )
    got = [r[0] for r in df.select(clean_percent("v")).collect()]
    assert got == [950847.0, 12.5, None, None, None]


def test_decimal_comma(spark):
    df = spark.createDataFrame([("20648000,50",), ("1,5",), ("x",)], ["v"])
    got = [r[0] for r in df.select(decimal_comma_to_double("v")).collect()]
    assert got == [20648000.5, 1.5, None]


def test_empty_to_null_all(spark):
    df = spark.createDataFrame([("", 1), ("a", 2)], ["s", "i"])
    got = empty_to_null_all(df).collect()
    assert got[0]["s"] is None and got[1]["s"] == "a"
    assert got[0]["i"] == 1  # non-string untouched


def test_nan_to_null_all(spark):
    df = spark.createDataFrame([(float("nan"), "x"), (1.5, "y")], ["d", "s"])
    got = [r["d"] for r in nan_to_null_all(df).collect()]
    assert got == [None, 1.5]
    assert not any(v is not None and math.isnan(v) for v in got)


def test_split_unnest_with_defaults(spark):
    df = spark.createDataFrame(
        [("Jefe-GTICS-Ana",), ("Maria Lopez",), ("Sub-GGF",)], ["Destino"]
    )
    cond = F.col("Destino").contains("-")
    out = df.select(
        "Destino",
        *split_unnest(
            "Destino",
            "-",
            ["cargo", "cod", "func"],
            defaults={"cod": F.lit("GAUEGI")},
            condition=cond,
        ),
    ).collect()
    assert (out[0]["cargo"], out[0]["cod"], out[0]["func"]) == ("Jefe", "GTICS", "Ana")
    assert (out[1]["cargo"], out[1]["cod"], out[1]["func"]) == (None, "GAUEGI", None)
    assert (out[2]["cargo"], out[2]["cod"], out[2]["func"]) == ("Sub", "GGF", None)


def test_map_values_default_null(spark):
    df = spark.createDataFrame([("GTICS",), ("NOPE",), (None,)], ["cod"])
    got = [r[0] for r in df.select(map_values("cod", {"GTICS": "Tech"})).collect()]
    assert got == ["Tech", None, None]


def test_drop_columns_matching(spark):
    df = spark.createDataFrame([(1, 2, 3)], ["a", "b_duplicated_0", "c"])
    assert drop_columns_matching(df, "duplicated").columns == ["a", "c"]


def test_cast_all_to_string(spark):
    df = spark.createDataFrame([(1, 2.5)], ["a", "b"])
    out = cast_all_to_string(df)
    assert [f.dataType.simpleString() for f in out.schema.fields] == ["string", "string"]


def test_fold_accents(spark):
    from fbs_data_pipelines_spark.functions.cleaning import fold_accents

    df = spark.createDataFrame(
        [("Crédito añejo GÓMEZ ü",), (None,)], ["v"]
    )
    out = [r.f for r in df.select(fold_accents("v").alias("f")).collect()]
    assert out[0] == "Credito anejo GOMEZ u"
    assert out[1] is None


def test_whole_frame_programs_match_the_column_forms(spark):
    """``empty_to_null_all``, ``nan_to_null_all`` and
    ``format_dates_for_export`` are parsed SQL; each matches its
    per-column ``F.when`` / ``F.date_format`` form (kept here as the
    reference) on schema, nullability included, and on rows — over
    names with spaces, accents, a dot and a backtick."""
    import datetime as dt

    from fbs_data_pipelines_spark.functions.dates import format_dates_for_export

    schema = (
        "`a b` string, `Fecha Acta Aprobación` string, `x.y` double, "
        "`we``ird` float, `día` date, `t.s` timestamp, `n` int not null"
    )
    df = spark.createDataFrame(
        [
            ("", "x", float("nan"), float("nan"), dt.date(2020, 2, 1),
             dt.datetime(2020, 2, 1, 10, 30, 5), 1),
            (None, "", 1.5, 2.5, None, None, 2),
            ("v", None, None, None, dt.date(1999, 12, 31),
             dt.datetime(1999, 12, 31, 23, 59, 59), 3),
        ],
        schema,
    )

    def col(name):
        return F.col("`" + name.replace("`", "``") + "`")

    def per_column(frame, rewrite):
        exprs = []
        for f in frame.schema.fields:
            c = rewrite(col(f.name), f.dataType.simpleString())
            exprs.append(col(f.name) if c is None else c.alias(f.name))
        return frame.select(*exprs)

    def empty_ref(c, t):
        return F.when(c == "", F.lit(None)).otherwise(c) if t == "string" else None

    def nan_ref(c, t):
        return F.when(F.isnan(c), F.lit(None)).otherwise(c) if t in ("double", "float") else None

    def dates_ref(c, t):
        fmt = {"date": "yyyy-MM-dd", "timestamp": "yyyy-MM-dd HH:mm:ss"}.get(t)
        return F.date_format(c, fmt) if fmt else None

    for fn, ref in [
        (empty_to_null_all, empty_ref),
        (nan_to_null_all, nan_ref),
        (format_dates_for_export, dates_ref),
    ]:
        got, want = fn(df), per_column(df, ref)
        assert got.schema == want.schema, fn.__name__
        # repr compares NaN cells as equal
        assert repr(got.collect()) == repr(want.collect()), fn.__name__
