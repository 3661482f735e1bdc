"""Per-key reservoir sampling and CSV roundtrip edges."""

from __future__ import annotations


def test_reservoir_per_key_deterministic_and_bounded(spark):
    from erigon_extract_spark.operators.sampling import reservoir_per_key

    df = spark.createDataFrame(
        [(i, f"k{i % 3}") for i in range(90)], "doc_id long, lang string"
    )
    a = reservoir_per_key(df, "lang", "doc_id", k=4)
    per_key = {r.lang: r["count"] for r in a.groupBy("lang").count().collect()}
    assert per_key == {"k0": 4, "k1": 4, "k2": 4}

    # membership is partitioning-independent
    b = reservoir_per_key(df.repartition(13), "lang", "doc_id", k=4)
    assert {(r.doc_id, r.lang) for r in a.collect()} == {
        (r.doc_id, r.lang) for r in b.collect()
    }

    # append stability: adding rows keeps survivors a subset relation —
    # an old member only leaves if a new row ranks below it, never by
    # reshuffle (hash ranks are content-addressed)
    bigger = df.unionByName(
        spark.createDataFrame(
            [(1000 + i, f"k{i % 3}") for i in range(30)],
            "doc_id long, lang string",
        )
    )
    c = {(r.doc_id, r.lang) for r in
         reservoir_per_key(bigger, "lang", "doc_id", k=4).collect()}
    old = {(r.doc_id, r.lang) for r in a.collect()}
    # every displaced old member must be explained by a new-row winner
    displaced = old - c
    newcomers = {x for x in c if x[0] >= 1000}
    assert len(displaced) <= len(newcomers)


def test_csv_roundtrip_survives_quotes_commas_newlines(spark, tmp_path):
    rows = [
        (1, 'plain text', "en", "s1", 10),
        (2, 'with, comma', "en", "s2", 11),
        (3, 'with "quotes" inside', "de", "s3", 20),
        (4, "multi\nline\ntext", "fr", "s4", 15),
    ]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    path = str(tmp_path / "csv")
    (
        df.repartition(2)
        .write.option("header", "true")
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )
    back = (
        spark.read.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("header", "true")
        .option("multiLine", "true")
        .option("quote", '"')
        .option("escape", '"')
        .csv(path)
    )
    assert sorted(map(tuple, back.collect())) == sorted(rows)
