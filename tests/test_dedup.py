"""Dedup operators: exact survivor choice, LSH recall vs the exact
baseline (the recall tests promised by the operator docstrings).
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from noaa_ais_glue_lakehouse_spark.operators.dedup import (
    dedup_exact,
    jaccard_pairs_exact,
    minhash_lsh_candidates,
    minhash_near_duplicates,
    simhash_near_duplicates,
)


def _corpus(spark, n_clusters=20, variants=4):
    """Synthetic near-dup corpus: clusters of texts differing by one token."""
    rows = []
    i = 0
    words = [
        "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta", "theta",
        "iota", "kappa", "lam", "mu", "nu", "xi", "omicron", "pi",
    ]
    for c in range(n_clusters):
        base = " ".join(words[(c + j) % len(words)] for j in range(10)) + f" cluster{c}"
        for v in range(variants):
            txt = base if v == 0 else base + f" tail{v}"
            rows.append((i, txt))
            i += 1
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_exact_min_id_survivor(spark):
    df = spark.createDataFrame(
        [(5, "dup"), (2, "dup"), (9, "uniq")], ["doc_id", "text"]
    )
    out = dedup_exact(df, ["text"], "doc_id")
    assert {r["doc_id"] for r in out.collect()} == {2, 9}


def test_jaccard_pairs_exact_values(spark):
    df = spark.createDataFrame(
        [(1, "a b c d"), (2, "a b c e"), (3, "x y z w")], ["doc_id", "text"]
    )
    out = jaccard_pairs_exact(df, "doc_id", "text", threshold=0.5).collect()
    assert len(out) == 1
    r = out[0]
    assert (r["id_a"], r["id_b"]) == (1, 2)
    assert abs(r["jaccard"] - 3 / 5) < 1e-6


def test_minhash_lsh_recall_vs_exact(spark):
    """Banded LSH (32 hashes, 8 bands of 4) must recover ≥90% of true
    char-5gram Jaccard ≥0.7 pairs on a clustered corpus."""
    df = _corpus(spark)
    truth = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs_exact(
            df, "doc_id", "text", 0.7, use_char_ngrams=True, ngram_n=5
        ).collect()
    }
    assert len(truth) > 30  # corpus must actually contain near-dups
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(
            df, "doc_id", "text", threshold=0.7
        ).collect()
    }
    # verification step guarantees precision == 1.0
    assert got <= truth
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"recall {recall:.3f}"


def test_minhash_recall_threshold_adaptive_geometry(spark):
    """threshold ≥ 0.75 auto-selects the 7×5 geometry (band_geometry);
    recall vs the exact ≥0.8 baseline must still clear the 0.9 floor."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import band_geometry

    assert band_geometry(0.8) == (35, 7)
    assert band_geometry(0.7) == (32, 8)
    df = _corpus(spark)
    truth = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs_exact(
            df, "doc_id", "text", 0.8, use_char_ngrams=True, ngram_n=5
        ).collect()
    }
    assert len(truth) > 20
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(
            df, "doc_id", "text", threshold=0.8
        ).collect()
    }
    assert got <= truth
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"recall {recall:.3f}"


def test_minhash_candidates_superset_of_verified(spark):
    df = _corpus(spark, n_clusters=5)
    cands = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(df, "doc_id", "text").collect()
    }
    verified = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(df, "doc_id", "text", 0.7).collect()
    }
    assert verified <= cands


def test_simhash_finds_near_identical(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog today"),
        (2, "the quick brown fox jumps over the lazy dog tonight"),
        (3, "entirely different content concerning database engines"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    pairs = {
        (r["id_a"], r["id_b"])
        for r in simhash_near_duplicates(
            df, "doc_id", "text", max_hamming=8, n_blocks=16
        ).collect()
    }
    assert (1, 2) in pairs
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_simhash_pigeonhole_guard(spark):
    import pytest

    df = spark.createDataFrame([(1, "a b c")], ["doc_id", "text"])
    with pytest.raises(ValueError, match="pigeonhole"):
        simhash_near_duplicates(df, "doc_id", "text", max_hamming=8, n_blocks=4)


def test_first_collision_equals_distinct_of_all_band_collisions(spark):
    """The zero-shuffle pair dedup (emit from first colliding band only)
    must produce EXACTLY the distinct of all band collisions — the
    equivalence the optimization's correctness rests on. Checked against
    a naive reimplementation: same signatures, join on every band, then
    dropDuplicates."""
    import random

    from noaa_ais_glue_lakehouse_spark.functions.text import tokenize

    rng = random.Random(11)
    words = [f"w{i}" for i in range(30)]
    rows = []
    for i in range(120):
        base = rng.sample(words, 8)
        # heavy dup structure: every third doc is a near-copy of doc i-1
        if i % 3 != 0 and rows:
            prev = rows[-1][1].split()
            base = prev[: len(prev) - 1] + [rng.choice(words)]
        rows.append((i, " ".join(base)))
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    fast = {
        (r["id_a"], r["id_b"])
        for r in minhash_lsh_candidates(
            df, "doc_id", "text", use_char_ngrams=False
        ).collect()
    }

    # naive reference: explode every band, plain equi-join, distinct.
    # Same hash family as _minhash_index: one xxhash64 over the shingle
    # string, slot i mixes that 64-bit value with the slot index.
    shingle = F.array_distinct(tokenize(F.col("text")))
    exploded = df.select("doc_id", F.explode(shingle).alias("_s")).select(
        "doc_id", F.xxhash64("_s").alias("_hs")
    )
    sigs = exploded.groupBy("doc_id").agg(
        *[F.min(F.xxhash64(F.col("_hs"), F.lit(i))).alias(f"_h{i}") for i in range(32)]
    )
    r = 4
    banded = sigs.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("bi"),
                        F.xxhash64(
                            F.concat_ws(
                                ",", *[F.col(f"_h{i*r+j}").cast("string") for j in range(r)]
                            )
                        ).alias("bh"),
                    )
                    for i in range(8)
                ]
            )
        ).alias("b"),
    ).select("doc_id", "b.bi", "b.bh")
    a, b = banded.alias("a"), banded.alias("b")
    naive = {
        (r["id_a"], r["id_b"])
        for r in a.join(
            b,
            (F.col("a.bi") == F.col("b.bi"))
            & (F.col("a.bh") == F.col("b.bh"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("id_a"), F.col("b.doc_id").alias("id_b"))
        .distinct()
        .collect()
    }
    assert fast == naive and len(naive) > 0


def test_minhash_ignores_empty_documents(spark):
    """Docs with no shingles (empty/whitespace text) produce no signature
    row and therefore no pairs — never a crash or a null-key bucket."""
    rows = [(1, "alpha beta gamma delta"), (2, "alpha beta gamma delta"),
            (3, ""), (4, "   ")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates(
            df, "doc_id", "text", threshold=0.7, use_char_ngrams=False
        ).collect()
    }
    assert got == {(1, 2)}


def test_prefix_filter_equals_brute_force(spark):
    """AllPairs prefix filter must reproduce the O(n^2) baseline EXACTLY
    (ids and scores) — its whole claim is exactness without the cross
    join. Checked at two thresholds, including one where float t*n fuzz
    (0.8*35) would over-ceil the prefix length if not guarded."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        jaccard_pairs_prefix_filter,
    )

    docs = _corpus(spark)
    for t in (0.8, 0.5):
        exact = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in jaccard_pairs_exact(docs, "doc_id", "text", t).collect()
        }
        fast = {
            (r["id_a"], r["id_b"], r["jaccard"])
            for r in jaccard_pairs_prefix_filter(
                docs, "doc_id", "text", t
            ).collect()
        }
        assert fast == exact and len(exact) > 0


def test_prefix_filter_plan_has_no_cartesian(spark):
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        jaccard_pairs_prefix_filter,
    )

    docs = _corpus(spark)
    out = jaccard_pairs_prefix_filter(docs, "doc_id", "text", 0.8)
    plan = out._jdf.queryExecution().executedPlan().toString().lower()
    assert "cartesianproduct" not in plan and "broadcastnestedloop" not in plan


def test_drop_boilerplate_segments_c4_rule(spark):
    """Segments shared by >max_df docs vanish from every doc; unique
    segments survive in original order; empty docs survive empty."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        drop_boilerplate_segments,
    )

    boiler = "nav home about contact terms privacy login search"  # 8 toks
    rows = [
        (1, boiler + " " + "alpha beta gamma delta epsilon zeta eta theta"),
        (2, boiler + " " + "one two three four five six seven eight"),
        (3, boiler + " " + "red green blue cyan magenta yellow black white"),
        (4, "totally unique content nine ten eleven twelve thirteen"),
        (5, ""),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["doc_id"]: r
        for r in drop_boilerplate_segments(
            df, "doc_id", "text", seg_tokens=8, max_df=2
        ).collect()
    }
    assert len(out) == 5
    # the shared header is gone from all three docs, tails survive
    assert out[1]["cleaned_text"] == "alpha beta gamma delta epsilon zeta eta theta"
    assert out[2]["n_segments"] == 2 and out[2]["n_kept"] == 1
    assert boiler not in out[3]["cleaned_text"]
    # unique doc untouched (its single 8-token segment has df=1)
    assert out[4]["cleaned_text"] == rows[3][1]
    assert out[5]["n_segments"] == 0 and out[5]["cleaned_text"] == ""


def test_chunk_stitch_detect_finds_split_docs(spark, tmp_path):
    """q303 returns 0 rows on the synthetic corpus (no chunker artifacts
    there) — pin the detector on a corpus that HAS a split document, and
    that non-adjacent docs stay unpaired."""
    from noaa_ais_glue_lakehouse_spark.plans.catalog import queries

    words = [f"w{i}" for i in range(24)]
    frag_a = " ".join(words[:16])          # tail8 = w8..w15
    frag_b = " ".join(words[8:24])         # head8 = w8..w15 -> stitch!
    other = " ".join(f"x{i}" for i in range(16))
    rows = [
        (1, frag_a, "en", "s", len(frag_a)),
        (2, frag_b, "en", "s", len(frag_b)),
        (3, other, "en", "s", len(other)),
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    d = str(tmp_path / "sf")
    df.write.parquet(f"{d}/documents.parquet")
    out = queries()["q303_chunk_stitch_detect"](spark, d).collect()
    assert [(r["tail_doc"], r["head_doc"]) for r in out] == [(1, 2)]


def test_simhash_portable_equals_brute_force(spark):
    """portable_hash=True (md5 family, q28's oracle-checkable kernel):
    the blocked LSH output must EQUAL brute-force Hamming enumeration —
    pigeonhole recall is exactly 1.0, the property the DuckDB oracle
    relies on — and near-identical docs must still pair."""
    from pyspark.sql import functions as F

    from noaa_ais_glue_lakehouse_spark.functions.hashing import (
        hamming64,
        simhash64_portable,
    )
    from noaa_ais_glue_lakehouse_spark.functions.text import tokenize

    rows = [(i, f"common prefix tokens shared by all docs variant w{i % 4}")
            for i in range(1, 13)] + [(13, "something else entirely here")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in simhash_near_duplicates(
            df, "doc_id", "text", max_hamming=3, portable_hash=True
        ).collect()
    }

    sigs = df.select(
        "doc_id", simhash64_portable(tokenize(F.col("text"))).alias("s")
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    brute = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            hamming64(F.col("a.s"), F.col("b.s")).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    assert got == brute
    # identical texts pair at hamming 0
    assert any(h == 0 for (_, _, h) in got)


def test_winnow_max_df_cap_drops_boilerplate_only(spark):
    """max_df (q343's at-scale knob): pairs supported by RARE shared
    fingerprints survive the cap; pairs whose only support is a gram
    shared corpus-wide (boilerplate) drop below min_shared and vanish."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        winnow_near_duplicates,
    )

    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    rows = [(1, "alpha bravo charlie delta echo foxtrot golf hotel " + boiler),
            (2, "alpha bravo charlie delta echo foxtrot golf hotel " + boiler)]
    # 30 unrelated docs all carrying the boilerplate tail
    rows += [(10 + i, f"unique{i} tokens{i} here{i} nothing{i} shared{i} "
              + boiler) for i in range(30)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])

    uncapped = {
        (r["id_a"], r["id_b"])
        for r in winnow_near_duplicates(
            df, "doc_id", "text", 8, 4, min_shared=5
        ).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in winnow_near_duplicates(
            df, "doc_id", "text", 8, 4, min_shared=5, max_df=8
        ).collect()
    }
    assert (1, 2) in uncapped and (1, 2) in capped  # true dup survives cap
    # boilerplate-only pairs exist uncapped but are gone under the cap
    boiler_pairs_capped = {p for p in capped if p[0] >= 10 and p[1] >= 10}
    boiler_pairs_uncapped = {p for p in uncapped if p[0] >= 10 and p[1] >= 10}
    assert boiler_pairs_uncapped and not boiler_pairs_capped


def test_portable_simhash_table_equals_column_form(spark):
    """The one-pass aggregation form (production path) must be
    bit-identical to simhash64_portable's Column form — including empty
    and single-token documents — since the q28 oracle rebuilds the
    Column form's nibble reads."""
    from pyspark.sql import functions as F

    from noaa_ais_glue_lakehouse_spark.functions.hashing import (
        simhash64_portable,
    )
    from noaa_ais_glue_lakehouse_spark.functions.text import tokenize
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        _portable_simhash_table,
    )

    rows = [(1, "the quick brown fox"), (2, ""), (3, "   "), (4, "solo"),
            (5, "a b c d e f g h i j k l m n o p q r s t"),
            (6, "the quick brown fox")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    col_form = {
        r["doc_id"]: r["s"]
        for r in df.select(
            "doc_id", simhash64_portable(tokenize(F.col("text"))).alias("s")
        ).collect()
    }
    tbl_form = {
        r["doc_id"]: r["_simhash"]
        for r in _portable_simhash_table(df, "doc_id", "text").collect()
    }
    assert col_form == tbl_form
    assert tbl_form[2] == 0 and tbl_form[3] == 0  # empty docs -> 0
    assert tbl_form[1] == tbl_form[6] != 0


def test_repeated_substring_spans_known_values(spark):
    """Planted verbatim repeat across two docs: the span covers exactly
    the shared region; unique text yields no span rows."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        repeated_substring_spans,
    )

    # characters ADJACENT to the planted repeat differ between the two
    # docs, so the maximal common substring is exactly `shared` (49 chars)
    shared = "the quick brown fox jumps over the lazy dog again"  # 49 chars
    df = spark.createDataFrame(
        [
            (1, "qqqq1" + shared + "1xyzzy-unique-one"),
            (2, "rrrr2" + shared + "2plugh-unique-two"),
            (3, "completely different text with no repeats at all here"),
        ],
        ["doc_id", "text"],
    )
    out = repeated_substring_spans(df, "doc_id", "text", k=20, min_count=2)
    rows = {r["doc_id"]: r for r in out.collect()}
    assert 3 not in rows
    # shared region starts at char 6 (1-based, after the 5-char unique
    # prefix) in both docs and is 49 chars long; spans are the union of
    # repeated 20-windows, i.e. exactly [6, 6+49)
    for d in (1, 2):
        assert rows[d]["span_start"] == 6
        assert rows[d]["span_end"] == 6 + 49
        assert rows[d]["span_len"] == 49


def test_repeated_substring_spans_properties(spark):
    """Every reported span: disjoint within a doc, length >= k, and every
    k-window inside it really does occur >= 2 times corpus-wide."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        repeated_substring_spans,
    )

    df = _corpus(spark, n_clusters=6, variants=3)
    k = 20
    out = repeated_substring_spans(df, "doc_id", "text", k=k, min_count=2)
    spans = out.collect()
    texts = {r["doc_id"]: r["text"].lower() for r in df.collect()}
    # corpus-wide window occurrence counts
    from collections import Counter

    counts = Counter()
    for t in texts.values():
        for i in range(len(t) - k + 1):
            counts[t[i : i + k]] += 1
    by_doc = {}
    for s in spans:
        assert s["span_len"] == s["span_end"] - s["span_start"] >= k
        by_doc.setdefault(s["doc_id"], []).append(
            (s["span_start"], s["span_end"])
        )
        t = texts[s["doc_id"]]
        for i in range(s["span_start"], s["span_end"] - k + 1):
            assert counts[t[i - 1 : i - 1 + k]] >= 2
    for d, iv in by_doc.items():
        iv.sort()
        for (a1, e1), (a2, e2) in zip(iv, iv[1:]):
            assert a2 > e1, f"overlapping spans in doc {d}"
        # maximality: the window just before/after each span is NOT repeated
        t = texts[d]
        for a, e in iv:
            if a - 1 >= 1:
                assert counts.get(t[a - 2 : a - 2 + k], 0) < 2
            if e - k + 1 <= len(t) - k + 1 and e + 1 - k + 1 >= 1:
                w = t[e + 1 - k : e + 1]
                if len(w) == k:
                    assert counts.get(w, 0) < 2


def test_bigram_logprob_hand_checked(spark):
    """Tiny corpus cross-checked against a hand-computed add-one bigram
    model with BOS context."""
    import math

    from noaa_ais_glue_lakehouse_spark.plans.catalog import queries
    import tempfile, os

    rows = [(1, "a b a"), (2, "a b")]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = {
            r["doc_id"]: r
            for r in queries()["q347_bigram_logprob"](spark, d).collect()
        }
    # token stream: doc1 = [a, b, a], doc2 = [a, b]
    # bigrams: (<s>,a)x2 (a,b)x2 (b,a)x1 ; contexts: <s>:2 a:3 b:2? no:
    #   doc1 pairs: (<s>,a) (a,b) (b,a); doc2 pairs: (<s>,a) (a,b)
    #   cb: (<s>,a)=2 (a,b)=2 (b,a)=1 ; cp: <s>=2 a=2 b=1 ; V=|{a,b}|=2
    p_sa = (2 + 1) / (2 + 2)  # 3/4
    p_ab = (2 + 1) / (2 + 2)  # 3/4
    p_ba = (1 + 1) / (1 + 2)  # 2/3
    lp1 = (math.log(p_sa) + math.log(p_ab) + math.log(p_ba)) / 3
    lp2 = (math.log(p_sa) + math.log(p_ab)) / 2
    assert out[1]["n_tokens"] == 3 and out[2]["n_tokens"] == 2
    assert abs(out[1]["avg_bigram_logprob"] - round(lp1, 6)) < 1e-9
    assert abs(out[2]["avg_bigram_logprob"] - round(lp2, 6)) < 1e-9


def test_repeated_span_excision_known_values(spark):
    """Excision removes exactly the repeated region from both docs and
    passes unique docs through (lower-normalized)."""
    import os
    import tempfile

    from noaa_ais_glue_lakehouse_spark.plans.catalog import queries

    shared = "the quick brown fox jumps over the lazy dog again"
    rows = [
        (1, "QQQQ1" + shared + "1xyzzy-unique-one"),
        (2, "RRRR2" + shared + "2plugh-unique-two"),
        (3, "completely different text with no repeats at all here"),
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = {
            r["doc_id"]: r
            for r in queries()["q348_repeated_span_excision"](spark, d).collect()
        }
    assert out[1]["new_text"] == "qqqq1" + "1xyzzy-unique-one"
    assert out[1]["removed_chars"] == len(shared)
    assert out[2]["new_text"] == "rrrr2" + "2plugh-unique-two"
    assert out[3]["new_text"] == rows[2][1]
    assert out[3]["removed_chars"] == 0


def test_ngram_novelty_known_values(spark):
    """Doc sharing every 4-gram with another scores 0; fully unique doc
    scores 1."""
    import os
    import tempfile

    from noaa_ais_glue_lakehouse_spark.plans.catalog import queries

    rows = [
        (1, "a b c d e"),           # grams: "a b c d", "b c d e"
        (2, "a b c d e"),           # identical -> novelty 0 for both
        (3, "p q r s t"),           # unique -> novelty 1
        (4, "x y z"),               # <4 tokens -> excluded
    ]
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(rows, ["doc_id", "text"]).coalesce(1).write.parquet(
            os.path.join(d, "documents.parquet")
        )
        out = {
            r["doc_id"]: r
            for r in queries()["q349_ngram_novelty"](spark, d).collect()
        }
    assert 4 not in out
    assert out[1]["n_grams"] == 2 and out[1]["novelty_frac"] == 0.0
    assert out[2]["novelty_frac"] == 0.0
    assert out[3]["n_grams"] == 2 and out[3]["novelty_frac"] == 1.0


def test_q372_hashed_novelty_equals_exact_q349(spark):
    """q372 (md5-prefix gram keys through the shuffle) must agree with
    string-keyed q349 EXACTLY on the fixture corpus — the hashed twin is
    a transport optimization, not an approximation, at any corpus where
    no 64-bit prefix collision occurs (expected collisions ~M²/2⁶⁵)."""
    from noaa_ais_glue_lakehouse_spark.plans.catalog import queries

    sf = "/root/testdata/sf0.001"
    exact = {
        r["doc_id"]: (r["n_grams"], r["novel_grams"], r["novelty_frac"])
        for r in queries()["q349_ngram_novelty"](spark, sf).collect()
    }
    hashed = {
        r["doc_id"]: (r["n_grams"], r["novel_grams"], r["novelty_frac"])
        for r in queries()["q372_ngram_novelty_hashed"](spark, sf).collect()
    }
    assert exact == hashed
    assert len(exact) > 0


def test_minhash_portable_recall_and_precision(spark):
    """The portable-family twin (q383): precision 1.0 by construction
    (exact verify) and >=90% recall of true token-Jaccard >=0.8 pairs
    on the fixture corpus - same floor as the xxhash64 family."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        minhash_near_duplicates_portable,
    )

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    truth = {
        (r["id_a"], r["id_b"])
        for r in jaccard_pairs_exact(
            docs, "doc_id", "text", 0.8, use_char_ngrams=False
        ).collect()
    }
    assert len(truth) > 10
    got = {
        (r["id_a"], r["id_b"])
        for r in minhash_near_duplicates_portable(
            docs, "doc_id", "text", threshold=0.8
        ).collect()
    }
    assert got <= truth  # exact verify -> precision 1.0
    recall = len(got & truth) / len(truth)
    assert recall >= 0.9, f"recall {recall:.3f}"


def test_minhash_portable_identical_docs_certain(spark):
    """Identical token sets have identical portable signatures in every
    band, so a J=1.0 pair is found with probability 1 (no LSH luck) and
    its reported jaccard is exactly 1.0."""
    from noaa_ais_glue_lakehouse_spark.operators.dedup import (
        minhash_near_duplicates_portable,
    )

    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "delta gamma beta alpha"),
         (3, "totally different words here")],
        ["doc_id", "text"],
    )
    rows = minhash_near_duplicates_portable(
        df, "doc_id", "text", threshold=0.8
    ).collect()
    assert [(r["id_a"], r["id_b"], r["jaccard"]) for r in rows] == [(1, 2, 1.0)]


def test_js_divergence_single_scan_and_disjoint_spine(spark, tmp_path):
    """q178 round-11 rewrite: the all-pairs spine rides the SAME single
    documents scan (rank-1 marker rows → NULL-token group collects every
    source), so (a) the physical plan must hold exactly ONE parquet scan
    and no join, and (b) a source pair sharing ZERO tokens must still
    appear, with JSD exactly 1 bit."""
    import math

    from noaa_ais_glue_lakehouse_spark.plans.catalog import queries

    rows = [
        (1, "aa bb cc", "en", "s1", 8),
        (2, "aa bb dd", "en", "s2", 8),
        (3, "xx yy zz", "en", "s3", 8),  # disjoint from s1 AND s2
    ]
    df = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    d = str(tmp_path / "sf")
    df.write.parquet(f"{d}/documents.parquet")
    q = queries()["q178_source_js_divergence"](spark, d)

    plan = q._jdf.queryExecution().sparkPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "Join" not in plan, plan

    out = {(r["source_a"], r["source_b"]): r["jsd_bits"] for r in q.collect()}
    assert set(out) == {("s1", "s2"), ("s1", "s3"), ("s2", "s3")}
    # fully disjoint vocabularies diverge maximally: exactly 1 bit
    assert out[("s1", "s3")] == 1.0
    assert out[("s2", "s3")] == 1.0
    # shared-vocab pair: 2/3 mass shared identically, 1/3 exclusive each
    # side -> JSD = (1/3)·1 bit exactly (each side's exclusive integrand
    # collapses to p·ln2 and the shared terms cancel)
    assert math.isclose(out[("s1", "s2")], round(1.0 / 3.0, 6), abs_tol=1e-9)
