"""Text-analysis kernels: tokenization, n-grams, quality features, langid."""

from __future__ import annotations

from pyspark.sql import functions as F

from noaa_ais_glue_lakehouse_spark.functions.text import (
    char_ngrams,
    langid_guess,
    quality_features,
    tokenize,
)


def test_tokenize(spark):
    df = spark.createDataFrame([("  Hello   World  ",), ("",)], ["t"])
    got = [r[0] for r in df.select(tokenize(F.col("t"))).collect()]
    assert got[0] == ["hello", "world"]
    assert got[1] == []


def test_char_ngrams(spark):
    df = spark.createDataFrame([("abcd",), ("ab",)], ["t"])
    got = [r[0] for r in df.select(char_ngrams(F.col("t"), 3)).collect()]
    assert sorted(got[0]) == ["abc", "bcd"]
    assert got[1] == []


def test_char_ngrams_distinct(spark):
    df = spark.createDataFrame([("aaaa",)], ["t"])
    got = df.select(char_ngrams(F.col("t"), 2)).first()[0]
    assert got == ["aa"]


def test_quality_features(spark):
    df = spark.createDataFrame([("The cat and the dog!",)], ["t"])
    feats = quality_features(F.col("t"))
    r = df.select(*[v.alias(k) for k, v in feats.items()]).first()
    assert r["n_chars"] == 20
    assert r["n_tokens"] == 5
    assert r["punct_ratio"] == round(1 / 20, 6)
    # 'the' (x2) and 'and' are markers
    assert r["stopword_ratio"] == round(3 / 5, 6)
    assert r["upper_ratio"] == round(1 / 20, 6)


def test_quality_features_empty_text(spark):
    df = spark.createDataFrame([("",)], ["t"])
    feats = quality_features(F.col("t"))
    r = df.select(*[v.alias(k) for k, v in feats.items()]).first()
    assert r["n_tokens"] == 0
    assert r["avg_token_len"] is None and r["punct_ratio"] is None


def test_langid(spark):
    rows = [
        ("the cat and the dog of a house",),
        ("el perro de la casa que ladra y come",),
        ("le chat et les chiens des villes",),
        ("der hund und die katze das ist gut",),
        ("xyzzy plugh qwerty",),
    ]
    df = spark.createDataFrame(rows, ["t"])
    got = [r[0] for r in df.select(langid_guess(F.col("t"))).collect()]
    assert got == ["en", "es", "fr", "de", "und"]


def test_remove_stopwords(spark):
    from noaa_ais_glue_lakehouse_spark.functions.text import remove_stopwords
    from pyspark.sql import functions as F

    df = spark.createDataFrame([("the cat sat on a mat",)], ["text"])
    got = df.select(remove_stopwords(F.col("text")).alias("t")).first()["t"]
    assert got == ["cat", "sat", "mat"]


def test_scrub_pii(spark):
    from noaa_ais_glue_lakehouse_spark.functions.text import scrub_pii
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("mail a.b@example.com or call +1 555 867-5309, id 1234567",)], ["text"]
    )
    got = df.select(scrub_pii(F.col("text")).alias("t")).first()["t"]
    assert "<EMAIL>" in got and "example.com" not in got
    assert "<PHONE>" in got or "<NUM>" in got
    assert "1234567" not in got


def test_gopher_word_stats(spark):
    from noaa_ais_glue_lakehouse_spark.functions.text import gopher_word_stats

    good = " ".join(["word"] * 60)  # 60 words, mean 4.0, all alphabetic
    short = "too few words"
    digits = " ".join(["123"] * 60)  # no alphabetic chars
    df = spark.createDataFrame(
        [(1, good), (2, short), (3, digits), (4, "")], ["i", "text"]
    )
    stats = gopher_word_stats(F.col("text"))
    rows = {
        r["i"]: r
        for r in df.select(
            "i",
            stats["n_words"].alias("n_words"),
            stats["mean_word_len"].alias("mean_word_len"),
            stats["frac_alpha_words"].alias("frac_alpha_words"),
            stats["passes"].alias("passes"),
        ).collect()
    }
    assert rows[1]["n_words"] == 60
    assert rows[1]["mean_word_len"] == 4.0
    assert rows[1]["frac_alpha_words"] == 1.0
    assert rows[1]["passes"] is True
    assert rows[2]["passes"] is False  # under 50 words
    assert rows[3]["frac_alpha_words"] == 0.0 and rows[3]["passes"] is False
    assert rows[4]["n_words"] == 0 and rows[4]["passes"] is False  # empty: no NULL leak
