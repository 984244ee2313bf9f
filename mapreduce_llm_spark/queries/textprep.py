"""Training-data preparation queries — the curation steps a corpus
pipeline runs between raw ingest and training: reproducible splits,
n-gram statistics, repetition signals (Gopher-style quality filters),
PII redaction, and outlier winsorization.

Reference grounding: the reference's "data cleaning" / "data
transformation" use cases (reference README.md:150-152) are prompt-level;
these are their typed, deterministic, oracle-checkable counterparts.
All stay JVM-side (split/transform/explode/regexp are codegen'd
Catalyst expressions — no Python crossing, no UDFs).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_llm_spark.io import load_table
from mapreduce_llm_spark.registry import query

EMAIL_RE = r"[a-z0-9]+@[a-z]+\.com"


@query(
    "q_split_train_test",
    oracle="""
    SELECT CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
                THEN 'test' ELSE 'train' END AS split,
           count(*) AS n_docs,
           round(avg(n_chars), 4) AS avg_chars
    FROM documents
    GROUP BY 1
    ORDER BY split
    """,
)
def q_split_train_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic content-hash train/test split — the reproducible
    holdout every training pipeline needs. md5(doc_id) first hex char in
    {0,1} → 'test' (2/16 = 12.5%): stable across runs, engines, and
    cluster sizes, unlike seeded RNG sampling (q_sample). Pure
    projection + hash-agg; no shuffle beyond the final 2-group agg."""
    d = load_table(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
    return (
        d.withColumn(
            "split",
            F.when(bucket.isin("0", "1"), F.lit("test")).otherwise("train"),
        )
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("n_chars"), 4).alias("avg_chars"),
        )
        .orderBy("split")
    )


@query(
    "q_tokenize_ids",
    oracle="""
    SELECT doc_id,
           len(ws) AS n_tokens,
           array_to_string(
               [CAST(('0x' || substr(md5(w), 1, 8))::UBIGINT % 32000 AS BIGINT)
                FOR w IN ws[1:32]], ',') AS token_ids
    FROM (SELECT doc_id,
                 list_filter(string_split(trim(lower(text)), ' '), w -> w <> '') AS ws
          FROM documents)
    """,
)
def q_tokenize_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-id sequences for a trainer feed: per-word deterministic
    vocab hash (md5-derived, mod 32000 — the stand-in for a real BPE
    vocab lookup, identical in both engines), truncated to a 32-token
    context. Pure JVM expressions — the tokenize+truncate pass is a
    narrow map, no shuffle at any scale.

    The id sequence is emitted as a comma-joined string, not an
    array<long>: the driver's canonicalizer sorts result columns with
    pandas, and list-typed cells are unhashable there (observed
    driver-side failure in round 2)."""
    d = load_table(spark, sf_dir, "documents")
    words = F.filter(
        F.split(F.lower(F.trim(F.col("text"))), " "), lambda w: w != ""
    )

    def tokenize(ws):
        return F.transform(
            F.slice(ws, 1, 32),
            lambda w: F.conv(F.substring(F.md5(w), 1, 8), 16, 10).cast("long")
            % 32000,
        )

    bound = F.element_at(
        F.transform(F.array(words), lambda ws: F.struct(F.size(ws).alias("n"), tokenize(ws).alias("ids"))),
        1,
    )
    return d.select(
        "doc_id",
        bound["n"].cast("long").alias("n_tokens"),
        F.array_join(bound["ids"], ",").alias("token_ids"),
    )


_LANG_STOPWORDS = {
    # order = tie-break preference (first wins at equal score)
    "en": ["the", "a", "and", "of", "to", "in", "is"],
    "es": ["el", "la", "de", "los", "que", "y", "un"],
    "de": ["der", "die", "das", "und", "ist", "nicht", "ein"],
    "fr": ["le", "les", "et", "des", "une", "est", "dans"],
}


@query(
    "q_text_langid",
    oracle="""
    WITH w AS (
        SELECT doc_id, lang,
               list_distinct(list_filter(string_split(lower(text), ' '),
                                         x -> x <> '')) AS ws
        FROM documents
    ), s AS (
        SELECT lang,
               len(list_intersect(ws, ['the','a','and','of','to','in','is'])) AS s_en,
               len(list_intersect(ws, ['el','la','de','los','que','y','un'])) AS s_es,
               len(list_intersect(ws, ['der','die','das','und','ist','nicht','ein'])) AS s_de,
               len(list_intersect(ws, ['le','les','et','des','une','est','dans'])) AS s_fr
        FROM w
    )
    SELECT lang,
           CASE WHEN greatest(s_en, s_es, s_de, s_fr) = 0 THEN 'und'
                WHEN s_en >= s_es AND s_en >= s_de AND s_en >= s_fr THEN 'en'
                WHEN s_es >= s_de AND s_es >= s_fr THEN 'es'
                WHEN s_de >= s_fr THEN 'de'
                ELSE 'fr' END AS pred_lang,
           count(*) AS n_docs
    FROM s
    GROUP BY lang, pred_lang
    """,
)
def q_text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID (stopword-hit argmax, fixed tie-break
    order) → confusion matrix vs the labeled ``lang`` column. The
    classic n-gram/stopword lang-ID shape: per-language evidence
    scores from one pass over the word set, deterministic argmax —
    no Python, no shuffle before the tiny confusion-matrix agg.
    (The synthetic corpus is English-ish for every label, so the
    matrix is dominated by the 'en' column — the operator, not the
    model, is what's under test.)"""
    d = load_table(spark, sf_dir, "documents")
    words = F.array_distinct(
        F.filter(F.split(F.lower(F.col("text")), " "), lambda w: w != "")
    )

    def pred(ws):  # ws: the bound words array (computed once per row)
        s = {
            lang: F.size(F.array_intersect(ws, F.array(*[F.lit(w) for w in sw])))
            for lang, sw in _LANG_STOPWORDS.items()
        }
        return (
            F.when(F.greatest(*s.values()) == F.lit(0), F.lit("und"))
            .when(
                (s["en"] >= s["es"]) & (s["en"] >= s["de"]) & (s["en"] >= s["fr"]),
                F.lit("en"),
            )
            .when((s["es"] >= s["de"]) & (s["es"] >= s["fr"]), F.lit("es"))
            .when(s["de"] >= s["fr"], F.lit("de"))
            .otherwise(F.lit("fr"))
        )

    pred_col = F.element_at(F.transform(F.array(words), pred), 1)
    return (
        d.select(F.col("lang"), pred_col.alias("pred_lang"))
        .groupBy("lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


@query(
    "q_text_ngrams",
    oracle="""
    SELECT bg AS bigram, count(*) AS n
    FROM (
        SELECT unnest(list_transform(
                   generate_series(1, len(a) - 1),
                   i -> a[i] || ' ' || a[i + 1])) AS bg
        FROM (SELECT string_split(text, ' ') AS a FROM documents)
        WHERE len(a) >= 2
    )
    GROUP BY bg
    ORDER BY n DESC, bigram
    LIMIT 20
    """,
)
def q_text_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-20 word bigrams — the n-gram frequency pass
    behind contamination checks and LM evaluation decontamination.
    Bigrams are built per-row with a higher-order transform over the
    word array (no self-join on word position — that would shuffle the
    exploded corpus twice); the only shuffle is the final bigram
    hash-agg, partial-aggregated map-side. Ties broken by bigram text
    for a deterministic top-k."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.withColumn("w", F.split("text", " "))
        .filter(F.size("w") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(w) - 1),"
                    " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
                )
            ).alias("bigram")
        )
        .groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(20)
    )


@query(
    "q_text_repetition",
    oracle="""
    SELECT lang,
           count(*) AS n_docs,
           round(avg(dup_frac), 4) AS avg_dup_frac,
           round(max(dup_frac), 4) AS max_dup_frac
    FROM (
        SELECT doc_id, lang,
               1.0 - count(DISTINCT w) * 1.0 / count(*) AS dup_frac
        FROM (
            SELECT doc_id, lang, unnest(string_split(text, ' ')) AS w
            FROM documents
        )
        GROUP BY doc_id, lang
    )
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document repetition (Gopher-style quality signal): the
    fraction of word occurrences that are duplicates of an earlier word
    in the same doc, aggregated per language. High dup_frac → boilerplate
    / degenerate text a curation pipeline drops. Explode partitions by
    doc — both aggs shuffle on small keys (doc_id, then lang); the
    count(DISTINCT) is per-doc, so no global distinct blow-up."""
    d = load_table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("w")
    )
    per_doc = words.groupBy("doc_id", "lang").agg(
        (1.0 - F.countDistinct("w") * 1.0 / F.count("*")).alias("dup_frac")
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("dup_frac"), 4).alias("avg_dup_frac"),
            F.round(F.max("dup_frac"), 4).alias("max_dup_frac"),
        )
        .orderBy("lang")
    )


@query(
    "q_pii_redact",
    oracle=f"""
    SELECT source,
           count(*) AS n_docs,
           CAST(sum(n_em) AS BIGINT) AS n_emails,
           CAST(sum(CASE WHEN n_em > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_pii,
           round(avg(length(red)), 4) AS avg_red_len
    FROM (
        SELECT source,
               len(regexp_extract_all(t2, '{EMAIL_RE}')) AS n_em,
               regexp_replace(t2, '{EMAIL_RE}', '[EMAIL]', 'g') AS red
        FROM (
            SELECT source,
                   CASE WHEN doc_id % 3 = 0
                        THEN text || ' contact user'
                             || CAST(doc_id AS VARCHAR) || '@example.com now'
                        ELSE text END AS t2
            FROM documents
        )
    )
    GROUP BY source
    ORDER BY source
    """,
)
def q_pii_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction — regex-scrub emails before text reaches training.
    The driver corpus is synthetic word soup with no PII, so every third
    doc gets a deterministic injected email; the query then detects and
    redacts, reporting per-source counts. regexp_count/regexp_replace
    are JVM codegen expressions — this is the fast path, not a UDF; at
    100 TB the same plan streams through the scan with zero shuffle
    before the tiny per-source agg."""
    d = load_table(spark, sf_dir, "documents")
    t2 = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com now"),
        ),
    ).otherwise(F.col("text"))
    d = d.withColumn("t2", t2).withColumn(
        "n_em", F.regexp_count("t2", F.lit(EMAIL_RE))
    )
    red = F.regexp_replace("t2", F.lit(EMAIL_RE), F.lit("[EMAIL]"))
    return (
        d.groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_em").cast("long").alias("n_emails"),
            F.sum(F.when(F.col("n_em") > 0, 1).otherwise(0))
            .cast("long")
            .alias("n_docs_pii"),
            F.round(F.avg(F.length(red)), 4).alias("avg_red_len"),
        )
        .orderBy("source")
    )


@query(
    "q_clip_outliers",
    oracle="""
    WITH b AS (
        SELECT round(CAST(quantile_cont(l_extendedprice, 0.01) AS DOUBLE), 4)
                   AS lo,
               round(CAST(quantile_cont(l_extendedprice, 0.99) AS DOUBLE), 4)
                   AS hi
        FROM lineitem
    )
    SELECT l_returnflag,
           count(*) AS n_rows,
           CAST(sum(CASE WHEN l_extendedprice < lo OR l_extendedprice > hi
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_clipped,
           round(avg(l_extendedprice), 4) AS avg_raw,
           round(avg(CASE WHEN l_extendedprice < lo THEN lo
                          WHEN l_extendedprice > hi THEN hi
                          ELSE l_extendedprice END), 4) AS avg_clipped
    FROM lineitem, b
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
)
def q_clip_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorization — clip a numeric feature to its [p1, p99] band, the
    standard outlier-taming step before numeric features feed a model.
    Exact interpolated percentiles (matching DuckDB quantile_cont),
    rounded to 4 decimals BEFORE clipping so both engines clip at the
    identical threshold. The 1-row bounds frame is broadcast
    (BroadcastNestedLoopJoin on purpose — see plan-lint allowlist);
    everything else is one hash-agg."""
    li = load_table(spark, sf_dir, "lineitem")
    bounds = li.agg(
        F.round(F.expr("percentile(l_extendedprice, 0.01)"), 4).alias("lo"),
        F.round(F.expr("percentile(l_extendedprice, 0.99)"), 4).alias("hi"),
    )
    clip = F.least(F.greatest(F.col("l_extendedprice"), F.col("lo")), F.col("hi"))
    return (
        li.crossJoin(F.broadcast(bounds))
        .withColumn("clip", clip)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.when(F.col("l_extendedprice") != F.col("clip"), 1).otherwise(0))
            .cast("long")
            .alias("n_clipped"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_raw"),
            F.round(F.avg("clip"), 4).alias("avg_clipped"),
        )
        .orderBy("l_returnflag")
    )


@query(
    "q_decontaminate",
    oracle="""
    WITH bigrams AS (
        SELECT doc_id, lang,
               unnest(list_distinct(list_transform(
                   generate_series(1, len(a) - 1),
                   i -> a[i] || ' ' || a[i + 1]))) AS bg
        FROM (SELECT doc_id, lang, string_split(text, ' ') AS a
              FROM documents)
        WHERE len(a) >= 2
    ),
    eval_set AS (
        SELECT DISTINCT bg FROM bigrams WHERE doc_id % 50 = 0
    )
    SELECT lang,
           count(*) AS n_docs,
           round(avg(contam), 4) AS avg_contam,
           CAST(sum(CASE WHEN contam > 0.8 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged
    FROM (
        SELECT b.doc_id, b.lang,
               sum(CASE WHEN e.bg IS NOT NULL THEN 1 ELSE 0 END) * 1.0
                   / count(*) AS contam
        FROM bigrams b
        LEFT JOIN eval_set e ON b.bg = e.bg
        WHERE b.doc_id % 50 <> 0
        GROUP BY b.doc_id, b.lang
    )
    GROUP BY lang
    ORDER BY lang
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — for each training doc, the fraction
    of its distinct bigrams that also occur in a held-out eval set
    (docs with doc_id % 50 = 0 stand in for the benchmark). Docs above
    0.8 overlap get flagged for removal. The eval n-gram set is tiny
    relative to the corpus and is BROADCAST to the training side — at
    100 TB the train bigrams never shuffle to meet it; the only wide
    exchanges are the per-doc and per-lang aggs."""
    d = load_table(spark, sf_dir, "documents")
    bigram_expr = F.array_distinct(
        F.expr(
            "transform(sequence(1, size(w) - 1),"
            " i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"
        )
    )
    bigrams = (
        d.withColumn("w", F.split("text", " "))
        .filter(F.size("w") >= 2)
        .select("doc_id", "lang", F.explode(bigram_expr).alias("bg"))
    )
    eval_set = bigrams.filter(F.col("doc_id") % 50 == 0).select("bg").distinct()
    train = bigrams.filter(F.col("doc_id") % 50 != 0)
    per_doc = (
        # the eval set is a 2% corpus slice - it scales with SF, so the
        # join is AQE-decided (broadcast_lint)
        train.join(
            eval_set.withColumn("hit", F.lit(1)), "bg", "left"
        )
        .groupBy("doc_id", "lang")
        .agg(
            (F.sum(F.coalesce("hit", F.lit(0))) * 1.0 / F.count("*")).alias(
                "contam"
            )
        )
    )
    return (
        per_doc.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("contam"), 4).alias("avg_contam"),
            F.sum(F.when(F.col("contam") > 0.8, 1).otherwise(0))
            .cast("long")
            .alias("n_flagged"),
        )
        .orderBy("lang")
    )


@query(
    "q_mix_weights",
    oracle="""
    WITH counts AS (
        SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang
    ),
    tot AS (
        SELECT CAST(sum(n_docs) AS BIGINT) AS total,
               count(*) AS n_langs
        FROM counts
    )
    SELECT lang, n_docs,
           round(n_docs * 1.0 / total, 4) AS actual_frac,
           round(total * 1.0 / (n_langs * n_docs), 4) AS resample_weight
    FROM counts, tot
    ORDER BY lang
    """,
)
def q_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-mixing weights — per-language corpus share and the
    resampling weight that would equalize languages (weight =
    total / (n_langs · n_lang)) — the planning step before building a
    training mixture. The per-lang count table is a handful of rows;
    the totals frame is one row, broadcast onto it (allowlisted NLJ)."""
    d = load_table(spark, sf_dir, "documents")
    counts = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    tot = counts.agg(
        F.sum("n_docs").cast("long").alias("total"),
        F.count("*").alias("n_langs"),
    )
    return (
        counts.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            F.round(F.col("n_docs") * 1.0 / F.col("total"), 4).alias(
                "actual_frac"
            ),
            F.round(
                F.col("total") * 1.0 / (F.col("n_langs") * F.col("n_docs")), 4
            ).alias("resample_weight"),
        )
        .orderBy("lang")
    )


@query("q_pack_sequences")
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.py): greedy first-fit of
    short docs into 256-token training sequences, one applyInPandas
    pass over hash shards. Rows-only by design — the packing depends on
    the engine tokenizer, which DuckDB can't reproduce; the operator's
    invariants are property-tested in tests/test_packing.py instead.
    Output: per-sequence fill stats, deterministic order."""
    from mapreduce_llm_spark.operators.packing import pack_sequences

    d = load_table(spark, sf_dir, "documents")
    packed = pack_sequences(d, budget=256)
    return (
        packed.groupBy("seq_id")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("seq_tokens"),
        )
        .orderBy("seq_id")
    )


@query(
    "q_text_collocations",
    oracle="""
    WITH toks AS (
        SELECT string_split(text, ' ') AS a FROM documents
    ), uni AS (
        SELECT w, count(*) AS c
        FROM (SELECT unnest(a) AS w FROM toks)
        GROUP BY w
    ), n_uni AS (
        SELECT CAST(sum(c) AS BIGINT) AS nu FROM uni
    ), bc AS (
        SELECT w1, w2, count(*) AS c_ab
        FROM (
            SELECT a[i] AS w1, a[i + 1] AS w2
            FROM (SELECT a, unnest(generate_series(1, len(a) - 1)) AS i
                  FROM toks WHERE len(a) >= 2)
        )
        GROUP BY w1, w2
    ), n_big AS (
        SELECT CAST(sum(c_ab) AS BIGINT) AS nb FROM bc
    )
    SELECT bc.w1 || ' ' || bc.w2 AS bigram,
           bc.c_ab,
           round(ln((CAST(bc.c_ab AS DOUBLE) * nu * nu)
                    / (CAST(nb AS DOUBLE) * u1.c * u2.c)), 4) AS pmi
    FROM bc
    JOIN uni u1 ON bc.w1 = u1.w
    JOIN uni u2 ON bc.w2 = u2.w
    CROSS JOIN n_uni CROSS JOIN n_big
    WHERE bc.c_ab >= 5
    ORDER BY pmi DESC, bigram
    LIMIT 20
    """,
)
def q_text_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pointwise-mutual-information collocations (word2phrase-style
    phrase detection): PMI = ln(p(w1 w2) / (p(w1) p(w2))) over corpus
    bigrams with a minimum count, top-20 by rounded score.

    Shape at scale: one exploded pass feeds BOTH count tables (bigram
    and unigram hash-aggs, each partial-aggregated map-side), the two
    scalar totals broadcast as single-row cross joins, and the unigram
    re-join keys are words — AQE picks broadcast vs shuffle by actual
    vocab size (a fixed broadcast hint would be wrong at web-corpus
    vocab). All integer counts stay exact in double (< 2^53), so the
    rounded PMI is engine-independent."""
    d = load_table(spark, sf_dir, "documents")
    toks = d.select(F.split("text", " ").alias("a"))
    uni = (
        toks.select(F.explode("a").alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    n_uni = uni.agg(F.sum("c").cast("bigint").alias("nu"))
    bc = (
        toks.filter(F.size("a") >= 2)
        .select(
            F.explode(
                F.expr(
                    "transform(sequence(1, size(a) - 1),"
                    " i -> struct(element_at(a, i) AS w1,"
                    "             element_at(a, i + 1) AS w2))"
                )
            ).alias("p")
        )
        .select("p.w1", "p.w2")
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c_ab"))
    )
    n_big = bc.agg(F.sum("c_ab").cast("bigint").alias("nb"))
    u1 = uni.select(F.col("w").alias("w1"), F.col("c").alias("c1"))
    u2 = uni.select(F.col("w").alias("w2"), F.col("c").alias("c2"))
    pmi = F.round(
        F.log(
            (F.col("c_ab").cast("double") * F.col("nu") * F.col("nu"))
            / (F.col("nb").cast("double") * F.col("c1") * F.col("c2"))
        ),
        4,
    )
    return (
        bc.filter(F.col("c_ab") >= 5)
        .join(u1, "w1")
        .join(u2, "w2")
        .crossJoin(F.broadcast(n_uni))
        .crossJoin(F.broadcast(n_big))
        .select(
            F.concat_ws(" ", "w1", "w2").alias("bigram"),
            "c_ab",
            pmi.alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "bigram")
        .limit(20)
    )


def _toy_bpe_ranks() -> dict[bytes, int]:
    """Deterministic self-contained BPE vocabulary: all 256 single
    bytes (ranks 0-255) plus fixed multi-byte merges over common
    English pairs — enough merge structure for the algorithm to do
    real work on the documents corpus without any external vocab
    file. Must stay in sync with nothing: it IS the fixture."""
    ranks: dict[bytes, int] = {bytes([b]): b for b in range(256)}
    rank = 256
    for merge in (
        b"th", b"he", b"in", b"er", b"an", b"re", b"on", b"at", b"en",
        b"or", b"es", b"ed", b"te", b"ti", b"the", b"ing", b"and",
        b"ion", b" t", b" a", b" s", b" the", b"er ", b"es ",
    ):
        ranks[merge] = rank
        rank += 1
    return ranks


@query("q_tokenize_bpe")
def q_tokenize_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXACT byte-level BPE engine (functions/bpe.py — the same
    code path that runs cl100k_base when its vocabulary file is
    supplied; reference internal/cli/estimation.go:13-36) executed on
    EXECUTORS over the documents table, with a deterministic toy
    vocabulary built in the UDF closure. Rows-only by design: BPE
    merge order is not SQL-expressible.

    Deliberately does NOT go through install_cl100k_from_file, which
    swaps the process-wide token counter: a declared query must never
    change what the rest of the session counts with. The ranks dict
    pickles to workers in the UDF closure instead — the same channel
    the installed counter itself travels by.

    Arrow-batched pandas UDF (never per-row Python); at 100 TB this is
    a narrow map whose cost is pure CPU, exactly how the real cl100k
    count runs. Output: per-source token totals plus the
    bytes-per-token compression ratio the toy merges achieve."""
    from pyspark.sql.functions import pandas_udf

    from mapreduce_llm_spark.functions.bpe import BytePairEncoder

    ranks = _toy_bpe_ranks()

    @pandas_udf("long")
    def bpe_count(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        # iterator form (guide §4.5): the encoder — and its per-piece
        # count memo, the round-15 optimization that collapses repeated
        # words' merge loops to a dict hit — is built once per TASK and
        # amortized over every batch, instead of once per batch.
        enc = BytePairEncoder(ranks)
        for texts in batches:
            yield texts.fillna("").map(enc.count)

    d = load_table(spark, sf_dir, "documents")
    return (
        d.select(
            "source",
            F.length("text").alias("n_chars"),
            bpe_count(F.col("text")).alias("n_tokens"),
        )
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.round(
                F.sum("n_chars") / F.sum("n_tokens"), 4
            ).alias("chars_per_token"),
        )
        .orderBy("source")
    )
