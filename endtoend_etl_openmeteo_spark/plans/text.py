"""Text-analysis and deduplication queries over `documents`
(training-data-pipeline extension surface, SURVEY.md §7 step 7).

All JVM-side built-ins; regex patterns restricted to the common subset of
Java regex and RE2 so the DuckDB oracles express identical semantics.
"""

from __future__ import annotations

from contextlib import ExitStack, contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from endtoend_etl_openmeteo_spark.operators.curate import (
    EMAIL_RE,
    IPV4_RE,
    PHONE_RE,
)
from endtoend_etl_openmeteo_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    normalized_text,
    simhash64,
)
from endtoend_etl_openmeteo_spark.plans.registry import register
from endtoend_etl_openmeteo_spark.sources.tables import tbl

#: Interpolated verbatim into both the Spark expressions and the DuckDB
#: oracles, so the whitespace class is the EXPLICIT Java/RE2 common
#: subset (see operators/dedup.WHITESPACE_CLASS) — Java's ``\s`` matches
#: \x0B, RE2's does not, and a shared ``\s`` literal would tokenize a
#: vertical tab differently per engine.
TOKEN_PATTERN = r"[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\f\r]"

STOPWORDS = {
    "en": ("the", "a", "of", "and", "to", "in", "is"),
    "de": ("der", "die", "das", "und", "zu"),
    "fr": ("le", "la", "et", "les", "de"),
}


@register(
    "q_text_stats",
    oracle="""
    SELECT doc_id,
           CAST(length(text) AS BIGINT) AS n_chars_calc,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           round(length(text) / len(string_split(text, ' ')), 6) AS chars_per_token
    FROM documents
    """,
    doc="Text quality stats: length, whitespace token count, chars/token "
    "ratio — the length/ratio features of a quality-scoring pass.",
    tags=("text",),
)
def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_chars = F.length("text").cast("long")
    n_tokens = F.size(F.split(F.col("text"), " ")).cast("long")
    return tbl(spark, sf_dir, "documents").select(
        "doc_id",
        n_chars.alias("n_chars_calc"),
        n_tokens.alias("n_tokens"),
        F.round(n_chars / n_tokens, 6).alias("chars_per_token"),
    )


@register(
    "q_token_count",
    oracle=rf"""
    SELECT doc_id,
           CAST(len(regexp_extract_all(text, '{TOKEN_PATTERN}')) AS BIGINT)
             AS n_bpe_tokens
    FROM documents
    """,
    doc="BPE-ish token counting: letter-runs | digit-runs | single "
    "punctuation, via one regexp_extract_all pass.",
    tags=("text",),
)
def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tbl(spark, sf_dir, "documents").select(
        "doc_id",
        F.size(F.regexp_extract_all(F.col("text"), F.lit(TOKEN_PATTERN), 0))
        .cast("long")
        .alias("n_bpe_tokens"),
    )


def _stopword_hits(lang: str):
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return words


@register(
    "q_lang_id",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents
    )
    SELECT doc_id,
           round(len(list_filter(toks, t -> t IN ({_stopword_hits('en')})))
                 / len(toks), 6) AS en_score,
           round(len(list_filter(toks, t -> t IN ({_stopword_hits('de')})))
                 / len(toks), 6) AS de_score,
           CASE WHEN len(list_filter(toks, t -> t IN ({_stopword_hits('en')})))
                     / len(toks) >= 0.05
                THEN 'en' ELSE 'other' END AS lang_guess
    FROM t
    """,
    doc="Language-ID heuristic: stopword-ratio n-gram scoring per language "
    "(the classic cheap langid for corpus filtering). Pure array ops.",
    tags=("text",),
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split(F.lower(F.col("text")), " ")

    def score(lang: str):
        sw = STOPWORDS[lang]
        return F.size(F.filter(toks, lambda t: t.isin(*sw))) / F.size(toks)

    # stage the scores once and derive the guess from the staged column:
    # separately-constructed HOF lambdas get distinct variable ids, so
    # codegen subexpression elimination cannot merge them — an inline
    # `score("en")` in the guess would run the O(tokens) stopword filter
    # twice per document (the q_repetition_filter staging discipline)
    return (
        tbl(spark, sf_dir, "documents")
        .select(
            "doc_id",
            score("en").alias("__en"),
            F.round(score("de"), 6).alias("de_score"),
        )
        .select(
            "doc_id",
            F.round(F.col("__en"), 6).alias("en_score"),
            "de_score",
            F.when(F.col("__en") >= 0.05, "en").otherwise("other").alias(
                "lang_guess"
            ),
        )
    )


@register(
    "q_quality_score",
    oracle=rf"""
    SELECT doc_id,
           round(length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                 / greatest(length(text), 1), 6) AS punct_ratio,
           round(least(len(string_split(text, ' ')) / 64.0, 1.0)
                 * (1.0 - length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                          / greatest(length(text), 1)), 6) AS quality
    FROM documents
    """,
    doc="Composite quality score: token-count saturation × (1 − punctuation "
    "ratio) — the shape of a heuristic corpus-quality filter, one scan.",
    tags=("text",),
)
def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_chars = F.greatest(F.length("text"), F.lit(1))
    punct = F.length(F.regexp_replace(F.col("text"), "[A-Za-z0-9 ]", ""))
    punct_ratio = punct / n_chars
    n_tokens = F.size(F.split(F.col("text"), " "))
    quality = F.least(n_tokens / F.lit(64.0), F.lit(1.0)) * (F.lit(1.0) - punct_ratio)
    return tbl(spark, sf_dir, "documents").select(
        "doc_id",
        F.round(punct_ratio, 6).alias("punct_ratio"),
        F.round(quality, 6).alias("quality"),
    )


@register(
    "q_fingerprint",
    oracle=r"""
    SELECT doc_id,
           md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
    FROM documents
    """,
    doc="Document fingerprinting: md5 digest of case/whitespace-normalized "
    "text — the dedup key for q_dedup_exact.",
    tags=("text", "dedup"),
)
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tbl(spark, sf_dir, "documents").select(
        "doc_id", F.md5(normalized_text("text")).alias("fp")
    )


@register(
    "q_dedup_exact",
    oracle=r"""
    SELECT md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp,
           min(doc_id) AS keep_id,
           count(*) AS n_dups
    FROM documents GROUP BY 1
    """,
    doc="Exact dedup via content-digest hash-groupBy (SURVEY §7 step 7): "
    "shuffle carries 32-byte digests, not documents.",
    tags=("dedup",),
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    return exact_dedup(tbl(spark, sf_dir, "documents"), "text", "doc_id")


#: Exact pairwise Jaccard is O(block²) by construction — it exists as the
#: oracle-checkable VERIFICATION stage; candidate generation at scale is
#: q_minhash_neardup's LSH banding. Capped to a deterministic doc_id slice so
#: the pair space stays bounded at every sf (the cap is the point, not a bug).
JACCARD_VERIFY_MAX_DOC_ID = 1000


@register(
    "q_ngram_jaccard",
    oracle=rf"""
    WITH d AS (
      SELECT doc_id, lang,
             list_distinct(string_split(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS toks
      FROM documents WHERE doc_id < {JACCARD_VERIFY_MAX_DOC_ID}
    )
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(len(list_intersect(a.toks, b.toks))
                 / len(list_distinct(list_concat(a.toks, b.toks))), 6) AS jaccard
    FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.toks, b.toks))
          / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.2
    """,
    doc="Exact token-set Jaccard near-dup pairs, blocked by lang, over a "
    "bounded doc_id slice (the exact-verify stage; LSH candidate "
    "generation is the scale path — q_minhash_neardup).",
    tags=("dedup",),
)
def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents").filter(
        F.col("doc_id") < JACCARD_VERIFY_MAX_DOC_ID
    )
    return ngram_jaccard_pairs(docs, "doc_id", "text", "lang", threshold=0.2)


@register(
    "q_minhash_neardup",
    # Full cross-engine replication of the banded pipeline (round-11
    # verdict task 8 — promoted from rows-only): the declared query uses
    # the md5_60 hash family (the q_simhash discipline), so DuckDB
    # reproduces every signature min, every band bucket, the exact
    # candidate set, and the verified Jaccard values bit-for-bit. The
    # engine default stays Murmur3 (one JVM intrinsic per (shingle, seed)
    # vs a full digest of a concatenated string) — the incremental index
    # and the smoke paths exercise that family.
    oracle=r"""
    WITH d AS (
      SELECT doc_id AS id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT id, s.sh
      FROM d, LATERAL (
        SELECT array_to_string(toks[i:i+2], ' ') AS sh
        FROM unnest(generate_series(1, greatest(len(toks) - 2, 1))) AS t(i)
      ) s
    ),
    sig AS (
      SELECT id, seed,
             min(('0x' || substr(md5(CAST(seed AS VARCHAR) || ':' || sh), 1, 15))::BIGINT) AS v
      FROM sh CROSS JOIN (SELECT unnest(range(32)) AS seed) seeds
      GROUP BY id, seed
    ),
    bands AS (
      SELECT id, seed // 4 AS band,
             ('0x' || substr(md5(string_agg(CAST(v AS VARCHAR), ',' ORDER BY seed)), 1, 15))::BIGINT AS bucket
      FROM sig GROUP BY id, seed // 4
    ),
    cand AS (
      SELECT DISTINCT a.id AS id_a, b.id AS id_b
      FROM bands a JOIN bands b
        ON a.band = b.band AND a.bucket = b.bucket AND a.id < b.id
    ),
    shs AS (SELECT id, list(sh) AS shl FROM sh GROUP BY id)
    SELECT c.id_a, c.id_b,
           round(len(list_intersect(sa.shl, sb.shl))::DOUBLE
                 / len(list_distinct(list_concat(sa.shl, sb.shl))), 6) AS jaccard
    FROM cand c
    JOIN shs sa ON sa.id = c.id_a
    JOIN shs sb ON sb.id = c.id_b
    WHERE len(list_intersect(sa.shl, sb.shl))::DOUBLE
          / len(list_distinct(list_concat(sa.shl, sb.shl))) >= 0.5
    """,
    doc="MinHash+LSH near-duplicate pairs (SURVEY §7 step 7): shingle → "
    "32-hash signature → 8-band buckets → candidate join → exact-Jaccard "
    "verify. The banding keeps candidate generation O(n·bands). Declared "
    "with hash_family='md5_60' so the oracle replays the whole pipeline "
    "(hash-checked); check_oracle additionally keeps the recall floor vs "
    "exact all-pairs Jaccard.",
    tags=("dedup", "approx"),
)
def q_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_lsh_pairs(
        tbl(spark, sf_dir, "documents"),
        "doc_id",
        "text",
        n_hashes=32,
        bands=8,
        jaccard_threshold=0.5,
        hash_family="md5_60",
    )


@register(
    "q_boilerplate_ngrams",
    oracle=r"""
    WITH sh AS (
      SELECT DISTINCT doc_id, s.sh
      FROM (
        SELECT doc_id,
               string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
        FROM documents
      ), LATERAL (
        SELECT array_to_string(toks[i:i+4], ' ') AS sh
        FROM unnest(generate_series(1, greatest(len(toks) - 4, 1))) AS t(i)
      ) s
    )
    SELECT sh AS ngram, count(*) AS n_docs
    FROM sh GROUP BY sh HAVING count(*) >= 3
    """,
    doc="Boilerplate detection: 5-gram shingles appearing in >= 3 "
    "distinct documents — the repeated-span finder behind boilerplate "
    "stripping in corpus pipelines. Counting happens on xxhash64(ngram): "
    "mostly-unique shingle strings defeat map-side partial aggregation, so "
    "the count shuffle must carry 8-byte keys, not full spans; the tiny "
    ">=3-docs survivor set is then broadcast back against the shingle scan "
    "to recover the strings — only surviving spans ever shuffle as text.",
    tags=("text", "dedup"),
)
def q_boilerplate_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    from endtoend_etl_openmeteo_spark.operators.dedup import cpu_parallelize, shingles

    # Shingling is the CPU cost and is recomputed on both lineage branches —
    # single-file tables must spread across cores first.
    docs = cpu_parallelize(tbl(spark, sf_dir, "documents").select("text"))
    doc_shingles = docs.select(F.explode(shingles("text", 5)).alias("ngram"))
    survivors = (
        doc_shingles.select(F.xxhash64("ngram").alias("__h"))
        .groupBy("__h")
        .agg(F.count("*").alias("n_docs"))  # shingles() is per-doc distinct
        .filter(F.col("n_docs") >= 3)
    )
    # Broadcast is the point: a shuffle join here would write the full
    # shingle-string stream to shuffle again. If a corpus's boilerplate set
    # ever outgrew the broadcast threshold, drop the hint and let AQE size it.
    return (
        doc_shingles.join(
            F.broadcast(survivors), F.xxhash64("ngram") == F.col("__h")
        )
        .groupBy("ngram")
        .agg(F.min("n_docs").alias("n_docs"))
        .select("ngram", "n_docs")
    )


@register(
    "q_substring_dup",
    # The oracle joins on the span STRINGS; the engine joins on xxhash64
    # of the span — agreement is exactly the no-collision guarantee the
    # operator's docstring claims.
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS toks
      FROM documents WHERE doc_id < 300
    ),
    w AS (
      SELECT doc_id, i AS pos, array_to_string(toks[i:i+11], ' ') AS span
      FROM t, LATERAL unnest(generate_series(1, len(toks)-11)) AS g(i)
    ),
    pd AS (SELECT span, doc_id, min(pos) AS lo, max(pos) AS hi FROM w GROUP BY span, doc_id),
    keep AS (SELECT span FROM pd GROUP BY span HAVING count(*) BETWEEN 2 AND 10),
    p AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             a.lo AS a_lo, a.hi AS a_hi, b.lo AS b_lo, b.hi AS b_hi
      FROM pd a JOIN pd b USING (span) JOIN keep USING (span)
      WHERE a.doc_id < b.doc_id
    )
    SELECT id_a, id_b, count(*)::BIGINT AS n_shared,
           min(a_lo)::BIGINT AS a_lo, (max(a_hi) + 11)::BIGINT AS a_end,
           min(b_lo)::BIGINT AS b_lo, (max(b_hi) + 11)::BIGINT AS b_end
    FROM p GROUP BY id_a, id_b
    """,
    doc="Pairwise exact-substring duplication screen (operators/dedup."
    "substring_dup_spans): doc pairs sharing a 12-token contiguous span, "
    "with per-side token extents — the candidate stage of Lee et al.'s "
    "exact-substring dedup, catching the long-copied-passage case "
    "document-level MinHash misses. Windows are hashed map-side "
    "(xxhash64, 20 bytes/window on the wire, never span text); hashes "
    "seen in > 10 docs are dropped BEFORE the self-join — boilerplate "
    "belongs to q_boilerplate_ngrams, and the cap bounds any bucket's "
    "pair fan-out (the skew guard). Declared over the doc_id<300 slice "
    "so the DuckDB oracle (which joins on span STRINGS — hash-collision-"
    "free ground truth) stays tractable; the operator itself is "
    "corpus-scale.",
    tags=("text", "dedup"),
)
def q_substring_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from endtoend_etl_openmeteo_spark.operators.dedup import substring_dup_spans

    docs = tbl(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return substring_dup_spans(
        docs, "doc_id", "text", window=12, min_shared=1, boilerplate_cap=10
    ).select(
        F.col("id_a").cast("long").alias("id_a"),
        F.col("id_b").cast("long").alias("id_b"),
        F.col("n_shared").cast("long").alias("n_shared"),
        F.col("a_lo").cast("long").alias("a_lo"),
        F.col("a_end").cast("long").alias("a_end"),
        F.col("b_lo").cast("long").alias("b_lo"),
        F.col("b_end").cast("long").alias("b_end"),
    )


@register(
    "q_strip_spans",
    # Replays the q_substring_dup shared-window OCCURRENCES, then the
    # per-span token surgery: a position is removed iff some shared
    # window occurrence [p, p+11] covers it in the HIGHER-id doc (Lee et
    # al.'s per-span policy — original text between two copied passages
    # survives; the covering-extent shortcut would strip it). md5 of the
    # rebuilt text keeps rows small while still hashing every byte.
    oracle=r"""
    WITH t AS (
      SELECT doc_id, string_split(trim(regexp_replace(lower(text),'\s+',' ','g')),' ') AS toks
      FROM documents WHERE doc_id < 300
    ),
    w AS (
      SELECT doc_id, i AS pos, array_to_string(toks[i:i+11], ' ') AS span
      FROM t, LATERAL unnest(generate_series(1, len(toks)-11)) AS g(i)
    ),
    pd AS (SELECT span, doc_id FROM w GROUP BY span, doc_id),
    keep AS (SELECT span FROM pd GROUP BY span HAVING count(*) BETWEEN 2 AND 10),
    cov AS (
      SELECT DISTINCT b.doc_id AS id, b.pos
      FROM pd a JOIN w b USING (span) JOIN keep USING (span)
      WHERE a.doc_id < b.doc_id
    ),
    pos AS (
      SELECT doc_id, i AS pos, toks[i] AS tok,
             EXISTS (SELECT 1 FROM cov s WHERE s.id = t.doc_id
                     AND i BETWEEN s.pos AND s.pos + 11) AS covered
      FROM t, LATERAL unnest(generate_series(1, len(toks))) AS g(i)
    )
    SELECT doc_id AS id,
           sum(CASE WHEN covered THEN 0 ELSE 1 END)::BIGINT AS n_tokens_kept,
           sum(CASE WHEN covered THEN 1 ELSE 0 END)::BIGINT AS n_tokens_removed,
           md5(coalesce(string_agg(tok, ' ' ORDER BY pos)
                        FILTER (WHERE NOT covered), '')) AS clean_md5
    FROM pos GROUP BY doc_id
    """,
    doc="Exact-substring dedup, transform stage (operators/dedup."
    "strip_duplicate_spans): every shared-window occurrence "
    "q_substring_dup finds costs the HIGHER-id doc exactly that span; "
    "the lower-id copy keeps the canonical occurrence — Lee et al.'s "
    "PER-SPAN removal policy (round-7 verdict item: unique text between "
    "two copied passages survives; the old covering-extent surgery "
    "stripped it). Surgery is a per-row higher-order filter in codegen "
    "(keep token i iff no span covers it); documents never shuffle for "
    "it — only the tiny span lists move, one id-keyed join. All 300 "
    "slice docs come back (untouched ones pass through), md5 of the "
    "rebuilt text hash-checks every byte of the surgery cross-engine.",
    tags=("text", "dedup"),
)
def q_strip_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from endtoend_etl_openmeteo_spark.operators.dedup import (
        strip_duplicate_spans,
        substring_dup_spans,
    )

    docs = tbl(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    pairs = substring_dup_spans(
        docs, "doc_id", "text", window=12, min_shared=1, boilerplate_cap=10,
        collect_positions=True,
    )
    return strip_duplicate_spans(docs, pairs, "doc_id", "text").select(
        F.col("id").cast("long").alias("id"),
        "n_tokens_kept",
        "n_tokens_removed",
        F.md5("text_clean").alias("clean_md5"),
    )


@register(
    "q_repetition",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS toks
      FROM documents
    )
    SELECT doc_id,
           round(1.0 - len(list_distinct(toks)) / len(toks), 6) AS dup_token_ratio
    FROM t
    """,
    doc="Within-document repetition score: 1 − distinct/total tokens — the "
    "degenerate-text filter (loops, keyword stuffing) of a corpus "
    "quality pass.",
    tags=("text",),
)
def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = F.split(normalized_text("text"), " ")
    return tbl(spark, sf_dir, "documents").select(
        "doc_id",
        F.round(
            F.lit(1.0) - F.size(F.array_distinct(toks)) / F.size(toks), 6
        ).alias("dup_token_ratio"),
    )


@register(
    "q_train_split",
    oracle="""
    WITH assigned AS (
      SELECT doc_id, lang,
             CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) = '0'
                  THEN 'val' ELSE 'train' END AS split
      FROM documents
    )
    SELECT split, lang, count(*) AS n FROM assigned GROUP BY 1, 2
    """,
    doc="Deterministic train/val split assignment (training-pipeline "
    "staple): content-independent md5(id) bucketing — 1/16 of ids land "
    "in val, stable across runs/engines/partitionings, no RNG state. "
    "Per-(split, lang) counts expose stratification balance.",
    tags=("text", "sampling"),
)
def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    split = F.when(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1) == "0", "val"
    ).otherwise("train")
    return (
        tbl(spark, sf_dir, "documents")
        .select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n"))
    )


@register(
    "q_cc_exact",
    # The clustering operator itself, hash-checked: same exact-Jaccard
    # edges as q_ngram_jaccard, components recomputed in DuckDB as a
    # RECURSIVE transitive closure + min-reachable-label (tractable
    # because near-dup components are small; the Spark side is the
    # log-round pointer-jumping loop that scales).
    oracle=rf"""
    WITH RECURSIVE d AS (
      SELECT doc_id, lang,
             list_distinct(string_split(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS toks
      FROM documents WHERE doc_id < {JACCARD_VERIFY_MAX_DOC_ID}
    ),
    e AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.toks, b.toks))
            / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.2
    ),
    sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    )
    SELECT a::BIGINT AS id, least(a, min(b))::BIGINT AS cluster_id
    FROM reach GROUP BY a
    """,
    doc="Connected components over EXACT Jaccard near-dup edges "
    "(operators/clusters.dedup_clusters): min-label propagation with "
    "pointer jumping, hash-matched against a DuckDB recursive-closure "
    "oracle. This driver-checks the clustering operator itself; "
    "q_dedup_clusters runs the same operator over the MinHash-LSH "
    "candidate edges (hash-specific, rows-only).",
    tags=("dedup", "iterative"),
)
def q_cc_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from endtoend_etl_openmeteo_spark.operators.clusters import dedup_clusters

    docs = tbl(spark, sf_dir, "documents").filter(
        F.col("doc_id") < JACCARD_VERIFY_MAX_DOC_ID
    )
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", "lang", threshold=0.2)
    return dedup_clusters(pairs).select(
        F.col("id").cast("long").alias("id"),
        F.col("cluster_id").cast("long").alias("cluster_id"),
    )


@register(
    "q_dedup_clusters",
    oracle=None,  # iterative label propagation — rows-only check
    doc="Near-duplicate clustering: connected components over MinHash-LSH "
    "pair candidates via bounded min-label propagation (iterative "
    "DataFrame loop with lineage checkpoints) — the keep-one-per-cluster "
    "reducer of a corpus dedup pipeline (operators/clusters.py). Uses the "
    "SAME generator parameters as q_minhash_neardup (incl. md5_60) so "
    "check_oracle's exact label anchor — DuckDB's recursive closure over "
    "the emitted pairs — stays decidable.",
    tags=("dedup", "iterative"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    from endtoend_etl_openmeteo_spark.operators.clusters import dedup_clusters

    pairs = minhash_lsh_pairs(
        tbl(spark, sf_dir, "documents"), "doc_id", "text",
        n_hashes=32, bands=8, jaccard_threshold=0.5,
        hash_family="md5_60",
    )
    return dedup_clusters(pairs)


def _kmeans_ctes(k: int, iters: int, dim: int, dp: int) -> str:
    """Unrolled Lloyd's iterations in DuckDB SQL — assignment + centroid
    CTE pair per round, generated with the SAME constants the Spark
    operator receives (the :func:`_pagerank_oracle` pattern). Returns the
    ``WITH ... afinal`` prefix; ``afinal`` holds (id, vec, cluster).

    Cross-engine determinism: squared distance is generated as an
    explicit left-associated term chain, the exact fold order of the
    operator's ``F.aggregate(zip_with(...))`` — identical doubles in,
    identical double out. The only order-sensitive arithmetic is the
    centroid ``avg``, which BOTH sides round to ``dp`` decimals per
    iteration (``kmeans(iter_dp=...)``), so the fixed point is
    reproducible. Ties (equal d2) break to the lower cluster id on both
    sides; clusters that lose all members drop out on both sides.
    """
    d2 = " + ".join(
        f"(vec[{i}] - centroid[{i}]) * (vec[{i}] - centroid[{i}])"
        for i in range(1, dim + 1)
    )
    cent = ", ".join(f"round(avg(vec[{i}]), {dp})" for i in range(1, dim + 1))

    def assign(name: str, cents: str) -> str:
        return f"""
    {name} AS (
      SELECT id, vec, cluster FROM (
        SELECT id, vec, cluster,
               row_number() OVER (PARTITION BY id ORDER BY d2, cluster) AS rn
        FROM (SELECT v.id, v.vec, c.cluster, {d2} AS d2
              FROM v CROSS JOIN {cents} c)
      ) WHERE rn = 1)"""

    parts = [
        f"""
    WITH v AS (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS vec FROM embeddings
    ),
    c0 AS (
      SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS INTEGER) AS cluster,
             vec AS centroid
      FROM (SELECT id, vec FROM v ORDER BY id LIMIT {k}))"""
    ]
    for i in range(1, iters + 1):
        parts.append(assign(f"a{i}", f"c{i - 1}"))
        parts.append(f"""
    c{i} AS (
      SELECT cluster, list_value({cent}) AS centroid
      FROM a{i} GROUP BY cluster)""")
    parts.append(assign("afinal", f"c{iters}"))
    return ",".join(parts)


def _kmeans_oracle(k: int, iters: int, dim: int, dp: int) -> str:
    """Full q_kmeans oracle: the unrolled fixed point + the id->cluster
    projection. Kept separate from :func:`_kmeans_ctes` so composed
    queries (q_semdedup) can extend the same fixed point with further
    CTEs instead of duplicating the unroll."""
    return (
        _kmeans_ctes(k, iters, dim, dp)
        + """
    SELECT id::BIGINT AS id, cluster::BIGINT AS cluster FROM afinal
    """
    )


_KMEANS_K, _KMEANS_ITERS, _KMEANS_DIM, _KMEANS_DP = 8, 3, 64, 6


@register(
    "q_kmeans",
    oracle=_kmeans_oracle(_KMEANS_K, _KMEANS_ITERS, _KMEANS_DIM, _KMEANS_DP),
    doc="Deterministic Lloyd's k-means (k=8, 3 iterations) over the "
    "embedding column: broadcast-centroid assignment + one per-dimension "
    "avg aggregate per round (operators/clusters.py) — the corpus-resident "
    "distributed trainer (the sampled variant backs q_ann_ivf). "
    "Hash-checked against a GENERATED unrolled-CTE DuckDB oracle: "
    "distances use an identical fold order, centroids round to 6dp per "
    "iteration on both sides (kmeans(iter_dp=6)), so the full fixed "
    "point — not just row counts — must match.",
    tags=("similarity", "iterative"),
)
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from endtoend_etl_openmeteo_spark.operators.clusters import kmeans

    assignments, _ = kmeans(
        tbl(spark, sf_dir, "embeddings"),
        k=_KMEANS_K,
        iterations=_KMEANS_ITERS,
        iter_dp=_KMEANS_DP,
    )
    return assignments.select(
        "id", F.col("cluster").cast("long").alias("cluster")
    )


@register(
    "q_semdedup",
    # Extends the q_kmeans unrolled fixed point (same k/iters/dim/dp
    # constants, same CTE generator) with one within-cluster pair join —
    # the cosine uses DuckDB's list_dot_product with sqrt(aa)*sqrt(bb)
    # association, matching the engine's dot()/nrm fold bit-for-bit
    # (the q_embed_neardup determinism argument, post-clustering).
    oracle=_kmeans_ctes(_KMEANS_K, _KMEANS_ITERS, _KMEANS_DIM, _KMEANS_DP)
    + """,
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b, a.cluster AS cluster,
             round(list_dot_product(a.vec, b.vec) /
                   (sqrt(list_dot_product(a.vec, a.vec)) *
                    sqrt(list_dot_product(b.vec, b.vec))), 6) AS cos_sim
      FROM afinal a JOIN afinal b
        ON a.cluster = b.cluster AND a.id < b.id
    )
    SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b,
           cluster::BIGINT AS cluster, cos_sim
    FROM pairs WHERE cos_sim >= 0.3
    """,
    doc="SemDeDup (Abbas et al. 2023): semantic near-duplicate pairs via "
    "cluster-bucketed cosine over the FULL embedding corpus — k-means "
    "cells bound the quadratic (sum |cell|^2 ~= n^2/k, with k growing "
    "with the corpus at scale), where q_embed_neardup's exact all-pairs "
    "form needs a bounded id slice. Deterministic end to end: the "
    "clustering is the q_kmeans fixed point (smallest-id seeds, 6dp "
    "per-round centroids), so the oracle replays clustering AND pairing "
    "in SQL and the full output hash-matches — an approximate-family "
    "operator with an exact oracle.",
    tags=("dedup", "similarity", "iterative"),
)
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from endtoend_etl_openmeteo_spark.operators.clusters import kmeans
    from endtoend_etl_openmeteo_spark.operators.similarity import semdedup_pairs
    from endtoend_etl_openmeteo_spark.plans.similarity import _cached_model
    from endtoend_etl_openmeteo_spark.session import release_checkpoint

    emb = tbl(spark, sf_dir, "embeddings")

    def train() -> DataFrame:
        # only the k-row centroid fixed point is cached (the _TRAINED
        # pattern — train once, assign many); the corpus-sized assignment
        # checkpoint is released, semdedup_pairs re-derives it with one
        # broadcast-argmin pass, provably equal to kmeans' own assignment
        assignments, cents = kmeans(
            emb, k=_KMEANS_K, iterations=_KMEANS_ITERS, iter_dp=_KMEANS_DP
        )
        release_checkpoint(assignments)
        return cents

    cents = _cached_model(
        spark, ("semdedup_kmeans", sf_dir, _KMEANS_K, _KMEANS_ITERS, _KMEANS_DP),
        train,
    )
    return semdedup_pairs(emb, threshold=0.3, centroids=cents)


@register(
    "q_semdedup_prune",
    # The full SemDeDup curation step, end to end in one exact oracle:
    # the q_kmeans unrolled fixed point -> within-cluster pairs (the
    # q_semdedup CTE verbatim) -> recursive-closure components over those
    # pairs (the q_cc_exact machinery) -> keep-one-per-component. WITH
    # RECURSIVE prefixes the whole chain (DuckDB allows non-recursive
    # CTEs under it).
    oracle=_kmeans_ctes(_KMEANS_K, _KMEANS_ITERS, _KMEANS_DIM, _KMEANS_DP)
    .replace("WITH v AS", "WITH RECURSIVE v AS", 1)
    + """,
    pairs AS (
      SELECT a.id AS id_a, b.id AS id_b,
             round(list_dot_product(a.vec, b.vec) /
                   (sqrt(list_dot_product(a.vec, a.vec)) *
                    sqrt(list_dot_product(b.vec, b.vec))), 6) AS cos_sim
      FROM afinal a JOIN afinal b
        ON a.cluster = b.cluster AND a.id < b.id
    ),
    sim AS (SELECT id_a, id_b FROM pairs WHERE cos_sim >= 0.4),
    sym AS (SELECT id_a AS a, id_b AS b FROM sim
            UNION SELECT id_b, id_a FROM sim),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    cc AS (SELECT a AS id, least(a, min(b)) AS cluster_id
           FROM reach GROUP BY a)
    SELECT e.vec_id::BIGINT AS id,
           coalesce(cc.cluster_id, e.vec_id)::BIGINT AS group_id,
           (cc.cluster_id IS NULL OR cc.cluster_id = e.vec_id) AS keep
    FROM embeddings e LEFT JOIN cc ON cc.id = e.vec_id
    """,
    doc="SemDeDup's curation OUTPUT — per-document keep/drop over the "
    "whole corpus: cluster-bucketed semantic pairs (q_semdedup's exact "
    "fixed point, served from the cached trained centroids) feed "
    "connected components (operators/clusters.dedup_clusters — min-label "
    "pointer jumping), and each component keeps its smallest-id "
    "representative; untouched docs pass through kept. The whole "
    "approximate-family composition — clustering, pairing, components, "
    "keep policy — is replayed exactly in one DuckDB oracle (unrolled "
    "kmeans CTE + within-cluster pairs + recursive closure), so every "
    "row's verdict hash-matches cross-engine. The per-stage scale "
    "stories compose: broadcast-argmin assignment, n^2/k bounded "
    "pairing, one-shuffle-per-round components, and a broadcast label "
    "join back onto the corpus.",
    tags=("dedup", "similarity", "iterative"),
)
def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    from endtoend_etl_openmeteo_spark.operators.clusters import (
        dedup_clusters,
        kmeans,
    )
    from endtoend_etl_openmeteo_spark.operators.similarity import semdedup_pairs
    from endtoend_etl_openmeteo_spark.plans.similarity import _cached_model
    from endtoend_etl_openmeteo_spark.session import release_checkpoint

    emb = tbl(spark, sf_dir, "embeddings")

    def train() -> DataFrame:
        assignments, cents = kmeans(
            emb, k=_KMEANS_K, iterations=_KMEANS_ITERS, iter_dp=_KMEANS_DP
        )
        release_checkpoint(assignments)
        return cents

    cents = _cached_model(
        spark, ("semdedup_kmeans", sf_dir, _KMEANS_K, _KMEANS_ITERS, _KMEANS_DP),
        train,
    )
    # 0.4, not q_semdedup's permissive 0.3: the PRUNE threshold is the
    # corpus-calibrated eps of SemDeDup (at 0.3 this synthetic corpus
    # forms one near-complete graph — pruning half the corpus and paying
    # a dense connected-components pass for a meaningless verdict)
    pairs = semdedup_pairs(emb, threshold=0.4, centroids=cents)
    labels = dedup_clusters(pairs.select("id_a", "id_b"))
    return (
        emb.select(F.col("vec_id").cast("long").alias("id"))
        .join(F.broadcast(labels), "id", "left")
        .select(
            "id",
            F.coalesce(F.col("cluster_id"), F.col("id"))
            .cast("long")
            .alias("group_id"),
            (
                F.col("cluster_id").isNull()
                | (F.col("cluster_id") == F.col("id"))
            ).alias("keep"),
        )
    )


@register(
    "q_simhash",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id AS id,
             unnest(list_distinct(string_split(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '))) AS t
      FROM documents
    ),
    h AS (
      SELECT id, ('0x' || substr(md5(t), 1, 15))::BIGINT AS h FROM toks
    ),
    bits AS (
      SELECT id, i,
             SUM(CASE WHEN ((h >> i) & 1) = 1 THEN 1 ELSE -1 END) AS c
      FROM h CROSS JOIN (SELECT unnest(range(60)) AS i) bit_idx
      GROUP BY id, i
    )
    SELECT id,
           SUM(CASE WHEN c > 0 THEN (1::BIGINT << i) ELSE 0 END)::BIGINT
             AS simhash
    FROM bits GROUP BY id
    """,
    doc="64-bit SimHash fingerprints per document: per-bit signed token "
    "sums folded map-side, bits recombined JVM-side. The declared query "
    "uses the md5_60 token hash so DuckDB replicates every fingerprint "
    "bit-for-bit (the engine default stays xxhash64 — same fold, cheaper "
    "hash; q_quality_contract exercises that path).",
    tags=("dedup",),
)
def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    return simhash64(
        tbl(spark, sf_dir, "documents"), "doc_id", "text", token_hash="md5_60"
    )


@register(
    "q_stratified_sample",
    oracle="""
    SELECT doc_id, lang
    FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
          < CASE WHEN lang = 'en' THEN '4000' ELSE '8000' END
    ORDER BY doc_id
    """,
    doc="Deterministic stratified sampling (training-corpus balancing): "
    "per-language keep-rates via a content-independent md5(doc_id) "
    "bucket compared against a per-stratum hex threshold ('4000' ~ 25% "
    "for the over-represented language, '8000' ~ 50% elsewhere). No RNG, "
    "no shuffle — a narrow filter that yields the same sample on every "
    "engine, every run, any partitioning; downsampling 100 TB costs one "
    "scan.",
    tags=("text", "sampling"),
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    bucket = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    threshold = F.when(F.col("lang") == "en", "4000").otherwise("8000")
    return (
        docs.filter(bucket < threshold)
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@register(
    "q_word_entropy",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(text, ' ')) AS word FROM documents),
    wc AS (
      SELECT doc_id, word, count(*) AS c
      FROM words WHERE word <> '' GROUP BY 1, 2)
    SELECT doc_id,
           CAST(sum(c) AS BIGINT) AS n_words,
           count(*) AS n_distinct,
           round(ln(sum(c)) - sum(c * ln(c)) / sum(c), 6) AS entropy,
           round(count(*) * 1.0 / sum(c), 6) AS ttr
    FROM wc GROUP BY doc_id
    """,
    doc="Per-document word-distribution entropy + type-token ratio — the "
    "lexical-diversity quality signals (low entropy = keyword stuffing / "
    "generated spam). Entropy is a WITHIN-row quantity, so no shuffle is "
    "needed at all: sort the token array and fold run-lengths with one "
    "higher-order aggregate (H = ln(N) - (1/N)*sum(c*ln c) accumulated at "
    "each run boundary) — a map-only pass where the previous explode + "
    "two-aggregate shape shuffled every (doc_id, word) pair twice.",
    tags=("text", "quality"),
)
def q_word_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    from endtoend_etl_openmeteo_spark.operators.dedup import cpu_parallelize

    toks = F.array_sort(
        F.filter(F.split("text", " "), lambda w: w != "")
    )
    run_term = lambda st: F.when(  # noqa: E731 — closes the open run's c*ln(c)
        st["run"] > 0, st["run"].cast("double") * F.log(st["run"].cast("double"))
    ).otherwise(0.0)
    fold = F.aggregate(
        F.col("toks"),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).cast("long").alias("run"),
            F.lit(0.0).alias("acc"),
            F.lit(0).cast("long").alias("distinct"),
        ),
        lambda st, w: F.when(
            st["prev"].isNull() | (st["prev"] != w),
            F.struct(
                w.alias("prev"),
                F.lit(1).cast("long").alias("run"),
                (st["acc"] + run_term(st)).alias("acc"),
                (st["distinct"] + 1).alias("distinct"),
            ),
        ).otherwise(
            F.struct(
                st["prev"].alias("prev"),
                (st["run"] + 1).alias("run"),
                st["acc"].alias("acc"),
                st["distinct"].alias("distinct"),
            )
        ),
        lambda st: F.struct(
            (st["acc"] + run_term(st)).alias("acc"),
            st["distinct"].alias("distinct"),
        ),
    )
    n = F.size("toks").cast("long")
    return (
        cpu_parallelize(tbl(spark, sf_dir, "documents").select("doc_id", "text"))
        .select("doc_id", toks.alias("toks"))
        .filter(F.size("toks") > 0)
        .select("doc_id", n.alias("n_words"), fold.alias("f"))
        .select(
            "doc_id",
            "n_words",
            F.col("f.distinct").alias("n_distinct"),
            F.round(
                F.log(F.col("n_words")) - F.col("f.acc") / F.col("n_words"), 6
            ).alias("entropy"),
            F.round(F.col("f.distinct") / F.col("n_words"), 6).alias("ttr"),
        )
    )


@register(
    "q_tfidf",
    oracle=r"""
    WITH words AS (
      SELECT doc_id,
             unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS w
      FROM documents),
    filtered AS (SELECT doc_id, w FROM words WHERE w <> ''),
    tf AS (SELECT doc_id, w, count(*) AS tf FROM filtered GROUP BY 1, 2),
    df AS (SELECT w, count(DISTINCT doc_id) AS n_docs_with FROM filtered GROUP BY 1),
    scored AS (
      SELECT t.doc_id, t.w, t.tf,
             round(t.tf * (ln(((SELECT count(*) FROM documents) + 1.0)
                              / (d.n_docs_with + 1.0)) + 1), 6) AS tfidf
      FROM tf t JOIN df d USING (w))
    SELECT doc_id, w, CAST(tf AS BIGINT) AS tf, tfidf, rk FROM (
      SELECT *, CAST(row_number() OVER (
               PARTITION BY doc_id ORDER BY tfidf DESC, w) AS BIGINT) AS rk
      FROM scored) WHERE rk <= 5
    """,
    doc="Smoothed TF-IDF keyword extraction: top-5 terms per document by "
    "tf * (ln((N+1)/(df+1)) + 1). Term frequencies are computed MAP-SIDE "
    "(token_counts run-length fold), so only one row per distinct word "
    "per doc ever shuffles — document frequency is then a plain count, "
    "vocab-sized, broadcast back (the corpus-scale side is touched once); "
    "N collected as a literal (parquet metadata count — no data scan), "
    "and a per-doc top-k window. Scores are ROUNDED BEFORE RANKING (the "
    "q_ann_cosine pattern) so 1-ulp ln() differences can't flip "
    "cross-engine ranks.",
    tags=("text", "quality", "window"),
)
def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from endtoend_etl_openmeteo_spark.operators.dedup import (
        cpu_parallelize,
        token_counts,
    )

    docs = tbl(spark, sf_dir, "documents")
    n_docs = docs.count()  # parquet metadata count — bounded, no data scan
    toks = F.filter(F.split(normalized_text("text"), " "), lambda w: w != "")
    tf = (
        cpu_parallelize(docs.select("doc_id", "text"))
        .select("doc_id", F.array_sort(toks).alias("s"))
        .select("doc_id", F.explode(token_counts(F.col("s"))).alias("wt"))
        .select("doc_id", F.col("wt.w").alias("w"), F.col("wt.tf").alias("tf"))
    )
    # each (doc, w) appears exactly once -> df is a plain count
    dfr = tf.groupBy("w").agg(F.count("*").alias("n_docs_with"))
    idf = F.log((F.lit(n_docs) + 1.0) / (F.col("n_docs_with") + 1.0)) + 1
    w_rk = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "w")
    return (
        tf.join(F.broadcast(dfr), "w")
        .withColumn("tfidf", F.round(F.col("tf") * idf, 6))
        .withColumn("rk", F.row_number().over(w_rk).cast("long"))
        .filter(F.col("rk") <= 5)
        .select("doc_id", "w", F.col("tf").cast("long").alias("tf"), "tfidf", "rk")
    )


@register(
    "q_sentence_stats",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             len(list_filter(string_split_regex(text, '[.!?]+'),
                             s -> trim(s) != '')) AS n_sentences,
             len(string_split(text, ' ')) AS n_tokens
      FROM documents
    )
    SELECT doc_id,
           CAST(n_sentences AS BIGINT) AS n_sentences,
           round(n_tokens / greatest(n_sentences, 1), 6) AS tokens_per_sentence
    FROM t
    """,
    doc="Sentence segmentation stats: terminal-punctuation split, blank "
    "fragments dropped, tokens-per-sentence ratio — the sentence-length "
    "feature of a fluency/quality pass. Map-only regexp work.",
    tags=("text",),
)
def q_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    sentences = F.filter(
        F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s) != ""
    )
    n_sent = F.size(sentences).cast("long")
    n_tokens = F.size(F.split(F.col("text"), " "))
    return tbl(spark, sf_dir, "documents").select(
        "doc_id",
        n_sent.alias("n_sentences"),
        F.round(n_tokens / F.greatest(n_sent, F.lit(1)), 6).alias(
            "tokens_per_sentence"
        ),
    )


@register(
    "q_readability",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             greatest(len(list_filter(string_split_regex(text, '[.!?]+'),
                                      s -> trim(s) != '')), 1) AS n_sentences,
             greatest(len(string_split(text, ' ')), 1) AS n_words,
             greatest(len(regexp_extract_all(lower(text), '[aeiouy]+')), 1)
               AS n_syllables
      FROM documents
    )
    SELECT doc_id,
           round(206.835 - 1.015 * (n_words / n_sentences)
                         - 84.6 * (n_syllables / n_words), 6) AS flesch
    FROM t
    """,
    doc="Flesch reading-ease estimate: words/sentence and vowel-group "
    "syllable proxy (the standard cheap readability filter for corpus "
    "quality binning). One map-only pass, three regexp aggregates.",
    tags=("text",),
)
def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    n_sent = F.greatest(
        F.size(F.filter(F.split(F.col("text"), r"[.!?]+"), lambda s: F.trim(s) != "")),
        F.lit(1),
    )
    n_words = F.greatest(F.size(F.split(F.col("text"), " ")), F.lit(1))
    n_syll = F.greatest(
        F.size(F.regexp_extract_all(F.lower(F.col("text")), F.lit("[aeiouy]+"), 0)),
        F.lit(1),
    )
    flesch = (
        F.lit(206.835) - F.lit(1.015) * (n_words / n_sent) - F.lit(84.6) * (n_syll / n_words)
    )
    return tbl(spark, sf_dir, "documents").select(
        "doc_id", F.round(flesch, 6).alias("flesch")
    )


@register(
    "q_neardup_incremental",
    oracle=None,  # MinHash-estimate verify — hash-specific, rows-only
    doc="Continuous-ingestion near-dup screen (operators/dedup."
    "incremental_neardup): batch 1 seeds a persistent (id, signature) "
    "index, batch 2 screens against it — returns batch 2's pairs "
    "(cross-batch AND intra-batch) from the batch-stamped index layout. "
    "Work per batch is O(batch + touched buckets), never O(corpus); the "
    "index is ~128 B/doc. Deterministic: same corpus split -> same "
    "signatures -> same pairs (also covered by "
    "tests/test_incremental_dedup.py).",
    tags=("dedup", "incremental"),
)
def q_neardup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from endtoend_etl_openmeteo_spark.operators.dedup import incremental_neardup
    from endtoend_etl_openmeteo_spark.session import scratch_dir

    docs = tbl(spark, sf_dir, "documents")
    half = docs.agg((F.max("doc_id") / 2).cast("long")).collect()[0][0]
    # scratch_dir honors SPARK_GRAFT_SCRATCH so off-box deployments can
    # point the index at a shared filesystem (driver-local temp is only
    # valid in local[*] mode, where driver and executors share a disk).
    index_dir = scratch_dir(prefix="neardup_idx_")
    try:
        incremental_neardup(
            spark, docs.filter(F.col("doc_id") <= half), index_dir,
            "doc_id", "text", batch_id="b1",
        )
        # pairs are checkpointed eagerly inside the operator, so the index
        # directory can be reclaimed as soon as the call returns
        return incremental_neardup(
            spark, docs.filter(F.col("doc_id") > half), index_dir,
            "doc_id", "text", batch_id="b2",
        )
    finally:
        shutil.rmtree(index_dir, ignore_errors=True)


@register(
    "q_corpus_ingest",
    # The streaming lifecycle hash-checked against the batch dedup oracle
    # (the q_stream_window pattern applied to the ingest pipeline): the
    # exact-digest screen's verdicts are deterministic SQL — a doc is a dup
    # iff its normalized-text md5 matches any earlier-wave doc (kept OR
    # quarantined: the whole batch is indexed) or a smaller-id doc in its
    # own wave. Wave split replicates the Spark side's
    # (max(doc_id)/2).cast(long) = floor for positive ids.
    oracle=r"""
    WITH h AS (
      SELECT CAST(floor(max(doc_id) / 2.0) AS BIGINT) AS half FROM documents
    ),
    raw AS (
      SELECT doc_id, text,
             CASE WHEN doc_id <= (SELECT half FROM h) THEN 1 ELSE 2 END AS wave
      FROM documents
      UNION ALL
      SELECT doc_id + 10000000, text, 2
      FROM documents WHERE doc_id % 7 = 0
    ),
    d AS (
      SELECT doc_id, wave,
             md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
      FROM raw
    ),
    dup AS (
      SELECT DISTINCT a.doc_id
      FROM d a JOIN d b ON a.fp = b.fp
      WHERE b.wave < a.wave OR (b.wave = a.wave AND b.doc_id < a.doc_id)
    )
    SELECT doc_id::BIGINT AS doc_id,
           doc_id NOT IN (SELECT doc_id FROM dup) AS kept
    FROM d
    """,
    doc="End-to-end continuous corpus ingest "
    "(streaming.run_streaming_corpus_ingest): the documents table lands in "
    "two micro-batch waves on a file stream; each epoch is screened "
    "against the persistent dup index (batch_id = run-epoch, "
    "crash-idempotent whole-subdir writes), duplicates quarantined, clean "
    "docs committed to the corpus under replay-safe (run, epoch) "
    "partitions. Returns one row per ingested doc with its kept/dup "
    "verdict, HASH-CHECKED against the batch dedup oracle — streaming "
    "ingest equals batch curation as a driver-grade contract. This row "
    "runs the exact-digest screen tier (screen='exact', "
    "operators/dedup.incremental_exact_dedup — deterministic verdicts, "
    "16-byte/doc index); the MinHash near-dup tier shares every line of "
    "lifecycle machinery and keeps its own kill-and-resume + floor "
    "contracts (tests/test_corpus_ingest.py, q_dedup_contract). Work per "
    "epoch is O(batch + touched digests), never O(corpus) — ingest cost "
    "tracks arrival rate as the corpus grows.",
    tags=("dedup", "streaming"),
)
def q_corpus_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os
    import shutil

    from endtoend_etl_openmeteo_spark.session import scratch_dir
    from endtoend_etl_openmeteo_spark.streaming import (
        run_streaming_corpus_ingest,
    )

    docs = tbl(spark, sf_dir, "documents").select("doc_id", "text")
    half = docs.agg((F.max("doc_id") / 2).cast("long")).collect()[0][0]
    work = scratch_dir(prefix="corpus_ingest_")
    corpus, quarantine = f"{work}/corpus", f"{work}/quarantine"
    landing = f"{work}/landing"
    try:
        # two single-file waves -> two micro-batches of ONE streaming
        # lifecycle (maxFilesPerTrigger=1): wave 2 is screened against the
        # index wave 1's epoch committed, same sequencing as two separate
        # runs without paying a second engine start/stop. The documents
        # table has no exact duplicates, so wave 2 also carries a
        # deterministic replica of every doc_id % 7 == 0 doc (id + 1e7,
        # same text — mirrored in the oracle): replicas of wave-1 docs
        # exercise the cross-batch index match, replicas of wave-2 docs
        # the smaller-id-in-own-batch rule. Wave order is pinned with
        # explicit mtimes (FileStreamSource sorts by mtime; coarse
        # filesystem granularity must not reorder the waves).
        replicas = docs.filter(F.col("doc_id") % 7 == 0).select(
            (F.col("doc_id") + 10_000_000).alias("doc_id"), "text"
        )
        docs.filter(F.col("doc_id") <= half).coalesce(1).write.mode(
            "append"
        ).parquet(landing)
        wave1 = {(landing, f) for f in os.listdir(landing)}
        docs.filter(F.col("doc_id") > half).unionByName(replicas).coalesce(
            1
        ).write.mode("append").parquet(landing)
        from endtoend_etl_openmeteo_spark.plans.stream_harness import (
            await_or_raise,
            stamp_wave_mtimes,
        )

        stamp_wave_mtimes([landing], [wave1])
        # The q_stream_join / q_stream_window cure applied to the ingest
        # harness: each screening epoch pays per-shuffle-partition fixed
        # costs (exchange tasks, state/sink commits) in its foreachBatch
        # joins and groupBys — 32 partitions × 2 epochs is pure overhead
        # for a screen whose batches are metadata-sized here. Pin 4 for
        # the streaming lifecycle only; a production deployment sizes
        # this to the arrival rate instead.
        from endtoend_etl_openmeteo_spark.session import bounded_shuffle

        with bounded_shuffle(spark, 4):
            await_or_raise(
                run_streaming_corpus_ingest(
                    spark, landing, corpus, f"{work}/index",
                    f"{work}/ckpt", "doc_id bigint, text string",
                    quarantine_path=quarantine,
                    max_files_per_trigger=1,
                    screen="exact",
                )
            )
        kept = spark.read.parquet(corpus).select("doc_id", F.lit(True).alias("kept"))
        dupd = spark.read.parquet(quarantine).select(
            "doc_id", F.lit(False).alias("kept")
        )
        # eager checkpoint: the result must outlive the scratch cleanup
        return kept.unionByName(dupd).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _pagerank_oracle(iters: int, d: float, dp: int) -> str:
    """Unrolled power iteration in DuckDB SQL — one CTE pair per round.

    Generated, not hand-written, so the oracle's round count / damping /
    per-iteration rounding are the SAME constants the Spark operator
    receives; both sides compute (1-d)/n and d*sum from identical
    literals at runtime, and round every iteration to ``dp`` decimals so
    float-sum order cannot drift across rounds (DuckDB has recursive
    CTEs, but aggregation inside the recursive term is restricted —
    unrolling keeps the per-round GROUP BY and stays deterministic).
    """
    head = rf"""
    WITH d0 AS (
      SELECT doc_id, lang,
             list_distinct(string_split(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS toks
      FROM documents WHERE doc_id < {JACCARD_VERIFY_MAX_DOC_ID}
    ),
    e AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM d0 a JOIN d0 b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.toks, b.toks))
            / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.2
    ),
    sym AS (SELECT a AS src, b AS dst FROM e UNION SELECT b, a FROM e),
    degt AS (SELECT src, count(*)::BIGINT AS deg FROM sym GROUP BY src),
    nodes AS (SELECT src AS id, deg FROM degt),
    nn AS (SELECT count(*)::DOUBLE AS n FROM nodes),
    pr0 AS (SELECT id, deg, round(1.0 / nn.n, {dp}) AS rank FROM nodes, nn)"""
    steps = []
    for i in range(1, iters + 1):
        steps.append(f"""
    c{i} AS (SELECT s.dst AS id, sum(p.rank / p.deg) AS s
             FROM pr{i - 1} p JOIN sym s ON p.id = s.src GROUP BY s.dst),
    pr{i} AS (SELECT n.id, n.deg,
                     round((1.0 - {d!r}) / nn.n + {d!r} * coalesce(c.s, 0.0), {dp}) AS rank
              FROM nodes n CROSS JOIN nn LEFT JOIN c{i} c ON c.id = n.id)""")
    return (
        head
        + ","
        + ",".join(steps)
        + f"""
    SELECT id::BIGINT AS id, round(rank, 6) AS pagerank FROM pr{iters}
    """
    )


_PAGERANK_ITERS, _PAGERANK_DAMPING, _PAGERANK_DP = 6, 0.85, 10


@register(
    "q_pagerank",
    oracle=_pagerank_oracle(_PAGERANK_ITERS, _PAGERANK_DAMPING, _PAGERANK_DP),
    doc="PageRank over the exact-Jaccard similarity graph "
    "(operators/clusters.pagerank): the canonical-document selector — "
    "rank concentrates on the best-connected member of each near-dup "
    "cluster, so keep-highest-rank beats keep-min-id when copies differ "
    "in quality; the same operator ranks hosts on a hyperlink graph for "
    "crawl-quality weighting. Power iteration as a DataFrame loop (one "
    "checkpointed edge table, one shuffle per round, per-round rounding "
    "to 10dp) hash-checked against a GENERATED unrolled-CTE DuckDB "
    "oracle running the same rounds with the same constants.",
    tags=("dedup", "iterative", "graph"),
)
def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    from endtoend_etl_openmeteo_spark.operators.clusters import pagerank

    docs = tbl(spark, sf_dir, "documents").filter(
        F.col("doc_id") < JACCARD_VERIFY_MAX_DOC_ID
    )
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", "lang", threshold=0.2)
    pr = pagerank(
        pairs,
        damping=_PAGERANK_DAMPING,
        iterations=_PAGERANK_ITERS,
        iter_dp=_PAGERANK_DP,
    )
    return pr.select(
        F.col("id").cast("long").alias("id"),
        F.round("rank", 6).alias("pagerank"),
    )


@register(
    "q_curate_corpus",
    # The full pipeline stitched as one oracle: each CTE is the proven
    # oracle of its standalone stage (q_quality_score, q_lang_id,
    # q_dedup_exact, q_cc_exact, q_pii_scrub) applied to the previous
    # stage's survivors — so the composition itself is what this query
    # hash-checks. Recursive closure replicates the clustering; quality /
    # en_score round BEFORE their threshold compares on both sides.
    oracle=rf"""
    WITH RECURSIVE scored AS (
      SELECT doc_id, lang, source, text,
             round(least(len(string_split(text, ' ')) / 64.0, 1.0)
                   * (1.0 - length(regexp_replace(text, '[A-Za-z0-9 ]', '', 'g'))
                            / greatest(length(text), 1)), 6) AS quality,
             round(len(list_filter(string_split(lower(text), ' '),
                                   t -> t IN ({_stopword_hits('en')})))
                   / len(string_split(lower(text), ' ')), 6) AS en_score
      FROM documents WHERE doc_id < {JACCARD_VERIFY_MAX_DOC_ID}
    ),
    gated AS (
      SELECT * FROM scored
      WHERE quality >= 0.5 AND lang IN ('en', 'de', 'fr', 'es')
    ),
    uniq AS (
      SELECT * FROM (
        SELECT *,
               row_number() OVER (
                 PARTITION BY md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g')))
                 ORDER BY doc_id) AS rn
        FROM gated)
      WHERE rn = 1
    ),
    d AS (
      SELECT doc_id, lang,
             list_distinct(string_split(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS toks
      FROM uniq
    ),
    e AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.toks, b.toks))
            / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.2
    ),
    sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    comp AS (SELECT a AS id, least(a, min(b)) AS cid FROM reach GROUP BY a),
    drops AS (SELECT id FROM comp WHERE id <> cid),
    body AS (
      SELECT *,
             concat_ws(' ', text, 'contact',
                       source || '.' || CAST(doc_id AS VARCHAR) || '@example.com',
                       'tel', '+1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0'),
                       'from', '10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7') AS b
      FROM uniq WHERE doc_id NOT IN (SELECT id FROM drops)
    )
    SELECT doc_id::BIGINT AS doc_id, lang,
           CASE WHEN en_score >= 0.05 THEN 'en' ELSE 'other' END AS lang_guess,
           CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
           quality,
           -- each pattern counts on the text it actually redacts (the
           -- previous replacement's output) — scrub_pii's interleave
           CAST(len(regexp_extract_all(b, '{EMAIL_RE}'))
                + len(regexp_extract_all(
                    regexp_replace(b, '{EMAIL_RE}', '[EMAIL]', 'g'),
                    '{PHONE_RE}'))
                + len(regexp_extract_all(
                    regexp_replace(regexp_replace(b,
                      '{EMAIL_RE}', '[EMAIL]', 'g'),
                      '{PHONE_RE}', '[PHONE]', 'g'),
                    '{IPV4_RE}')) AS BIGINT) AS n_pii,
           md5(regexp_replace(regexp_replace(regexp_replace(b,
             '{EMAIL_RE}', '[EMAIL]', 'g'),
             '{PHONE_RE}', '[PHONE]', 'g'),
             '{IPV4_RE}', '[IP]', 'g')) AS clean_fp
    FROM body
    """,
    doc="The COMPOSED end-to-end curation pipeline (operators/curate.py): "
    "quality gate -> language allowlist -> exact dedup -> near-dup "
    "clustering with canonical selection -> PII scrub, as ONE hash-checked "
    "query — a user's raw-crawl-to-clean-corpus path in a single call. "
    "Stage semantics match the standalone plans; filters run first so "
    "every exchange carries survivors only. The PII stage scrubs a "
    "deterministic synthetic enrichment (the q_pii_scrub pattern — the "
    "corpus carries no real PII), injected AFTER dedup so digests and "
    "Jaccard sets are unperturbed; clean_fp proves the redaction fired.",
    tags=("text", "dedup", "llm", "pipeline"),
)
def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    from endtoend_etl_openmeteo_spark.operators.curate import curate_corpus

    docs = tbl(spark, sf_dir, "documents").filter(
        F.col("doc_id") < JACCARD_VERIFY_MAX_DOC_ID
    )
    enrich = F.concat_ws(
        " ",
        F.lit("contact"),
        F.concat(
            F.col("source"), F.lit("."), F.col("doc_id").cast("string"),
            F.lit("@example.com"),
        ),
        F.lit("tel"),
        F.concat(
            F.lit("+1-555-"),
            F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
        ),
        F.lit("from"),
        F.concat(F.lit("10.0."), (F.col("doc_id") % 256).cast("string"), F.lit(".7")),
    )
    out = curate_corpus(
        docs,
        keep_langs=("en", "de", "fr", "es"),
        quality_min=0.5,
        jaccard_threshold=0.2,
        pii_enrich=enrich,
    )
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "lang",
        "lang_guess",
        "n_tokens",
        "quality",
        "n_pii",
        F.md5("clean").alias("clean_fp"),
    )


SEARCH_TERMS = ("spark", "join", "window", "batch")


@register(
    "q_inverted_index",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
               w -> w <> '') AS ws
      FROM documents),
    words AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS w FROM toks)
    SELECT w AS term, doc_id,
           CAST(count(*) AS BIGINT) AS tf,
           CAST(any_value(dl) AS BIGINT) AS dl
    FROM words WHERE w IN ('spark', 'join', 'window', 'batch')
    GROUP BY w, doc_id
    """,
    doc="Inverted-index posting lists (operators/search.inverted_index) "
    "for a bounded term set: (term, doc_id, tf, dl), one row per distinct "
    "term per doc. The build is exchange-FREE — term frequencies come out "
    "of the map-side token_counts run-length fold (the q_tfidf shape), so "
    "a 100 TB index build shuffles nothing; stored postings partition BY "
    "TERM so keyword queries prune to their terms' partitions.",
    tags=("text", "search"),
)
def q_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    from endtoend_etl_openmeteo_spark.operators.search import inverted_index

    idx = inverted_index(tbl(spark, sf_dir, "documents"))
    return idx.filter(F.col("term").isin(list(SEARCH_TERMS)))


@register(
    "q_bm25_search",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
               w -> w <> '') AS ws
      FROM documents),
    stats AS (SELECT count(*) AS n, round(avg(len(ws)), 6) AS avgdl FROM toks),
    words AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS w FROM toks),
    tf AS (
      SELECT w, doc_id, count(*) AS tf, any_value(dl) AS dl
      FROM words WHERE w IN ('spark', 'join', 'window', 'batch')
      GROUP BY w, doc_id),
    df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    scored AS (
      SELECT t.doc_id,
             ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
               * t.tf * (1.2 + 1.0)
               / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * t.dl / s.avgdl)) AS contrib
      FROM tf t JOIN df d USING (w) CROSS JOIN stats s)
    SELECT doc_id, round(sum(contrib), 6) AS score
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 10
    """,
    doc="BM25 ranked retrieval served from the STORED index, a versioned "
    "table of term-clustered postings (operators/search."
    "write_inverted_index + stored_bm25_topk, built once per corpus "
    "fingerprint and reused — the build-once/serve-many production "
    "shape): one snapshot's manifest gives the corpus stats and prunes "
    "the scan to the files whose term range holds a query term before "
    "a file opens, and the term IN residual filters surviving row "
    "groups (pruning pinned in tests/test_search.py). df is |terms| "
    "rows broadcast back; the per-doc sum aggregates <=|terms| rows per "
    "candidate; top-k is TakeOrdered, never a global window. avgdl is "
    "rounded at the source and scores round before the (score desc, "
    "doc_id) rank, so cross-engine float folds can't flip the result.",
    tags=("text", "search"),
)
def q_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from endtoend_etl_openmeteo_spark.operators.search import stored_bm25_topk

    return stored_bm25_topk(
        spark, _stored_index(spark, sf_dir), SEARCH_TERMS, k=10
    )


#: (sf_dir, corpus fingerprint) -> stored index path. The index is built
#: ONCE per corpus content and served by every subsequent query in the
#: process — the real deployment splits these into an offline build job
#: and online serving; the fingerprint forces a rebuild when testdata is
#: regenerated in place (the _TRAINED invalidation rule).
_STORED_INDEX: dict[tuple, str] = {}


def _stored_index(spark: SparkSession, sf_dir: str) -> str:
    from endtoend_etl_openmeteo_spark.operators.search import (
        write_inverted_index,
    )
    from endtoend_etl_openmeteo_spark.plans.similarity import (
        _table_fingerprint,
    )
    from endtoend_etl_openmeteo_spark.session import scratch_dir

    key = (sf_dir, _table_fingerprint(sf_dir, "documents"))
    if key not in _STORED_INDEX:
        import atexit
        import shutil

        root = scratch_dir("bm25_index_")
        # scratch indexes must not accrete across bench/check_oracle
        # processes — one /tmp dir per corpus fingerprint per process,
        # removed at interpreter exit (the serving path holds no open
        # handles; Spark re-lists the files per query).
        atexit.register(shutil.rmtree, root, ignore_errors=True)
        path = root + "/postings"
        write_inverted_index(tbl(spark, sf_dir, "documents"), path)
        _STORED_INDEX[key] = path
    return _STORED_INDEX[key]


@register(
    "q_bm25_delete",
    # The deletion lifecycle is exactly checkable: position-delete
    # serving with exactly-reversed stats must equal a fresh index built
    # over the survivors, bit-for-bit (same integer totals, same JVM
    # rounding), and compaction must change nothing served while
    # physically removing the postings.
    oracle="""
    SELECT 'delete_equals_survivor_rebuild' AS contract, TRUE AS ok
    UNION ALL SELECT 'vacuum_physical_and_serving_stable', TRUE
    """,
    doc="Document deletion for the stored BM25 index (operators/search."
    "delete_from_inverted_index): one scan of the live postings commits "
    "the docs' rows as versioned-table position deletes (no postings "
    "rewrite), so per-term df shrinks exactly, and the same manifest "
    "commit reverses the batch's exact integer totals in the corpus "
    "stats with rebuild-identical rounding. Contracts hash-checked: "
    "post-delete serving equals the in-plan bm25_topk over the survivor "
    "corpus row-for-row, scores included (same idf/norm formulas, same "
    "rounding — a full survivor-index rebuild gives the identical rows, "
    "pinned in tests/test_search.py), and after compact_inverted_index "
    "(vt_maintain clustered on term, which materializes the deletes) "
    "serving is unchanged with the deleted postings physically gone "
    "from the snapshot's files.",
    tags=("text", "search"),
)
def q_bm25_delete(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from endtoend_etl_openmeteo_spark.operators.search import (
        bm25_topk,
        compact_inverted_index,
        corpus_stats,
        delete_from_inverted_index,
        inverted_index,
        stored_bm25_topk,
        write_inverted_index,
    )
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_files
    from endtoend_etl_openmeteo_spark.session import (
        bounded_shuffle,
        overlap,
        scratch_dir,
    )

    docs = (
        tbl(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 500)
    )

    def rows_of(df) -> list:
        return [tuple(r) for r in df.collect()]

    idx = scratch_dir(prefix="bm25_del_")
    try:
        # Harness shuffle pin: bounded 500-doc slice, lifecycle proof —
        # the q_index_compact rationale. The survivor rebuild never
        # touches the index dir, so it runs CONCURRENTLY with
        # build→delete→serve; post-compaction count and re-serve are
        # likewise independent reads of the compacted index.
        with bounded_shuffle(spark, 8):

            def build_delete_serve() -> list:
                write_inverted_index(docs, idx)
                delete_from_inverted_index(
                    docs.filter(F.col("doc_id") < 10), idx
                )
                return rows_of(stored_bm25_topk(spark, idx, SEARCH_TERMS, k=10))

            def survivor_rebuild() -> list:
                survivors = docs.filter(F.col("doc_id") >= 10)
                n_docs, avgdl = corpus_stats(survivors)
                return rows_of(
                    bm25_topk(
                        inverted_index(survivors), SEARCH_TERMS, n_docs, avgdl, k=10
                    )
                )

            served, want = overlap(build_delete_serve, survivor_rebuild)
            equal = bool(served) and served == want
            compact_inverted_index(spark, idx)
            # vt_files refuses a snapshot that still carries deletes, and
            # the raw files it lists are read with none applied
            gone, reserved = overlap(
                lambda: spark.read.parquet(*vt_files(spark, idx))
                .filter(F.col("doc_id") < 10)
                .count(),
                lambda: rows_of(stored_bm25_topk(spark, idx, SEARCH_TERMS, k=10)),
            )
            vac_ok = gone == 0 and reserved == served
        return spark.createDataFrame(
            [
                ("delete_equals_survivor_rebuild", equal),
                ("vacuum_physical_and_serving_stable", vac_ok),
            ],
            "contract string, ok boolean",
        )
    finally:
        shutil.rmtree(idx, ignore_errors=True)


@register(
    "q_hybrid_search",
    # The BM25 CTE chain is q_bm25_search's verbatim (k=20 cut), the
    # cosine chain q_ann_cosine's for one query vector; fusion replays
    # 1/(60+rank) sums at 9dp. Ranks, not scores, cross the fusion
    # boundary — the two score scales are incomparable by construction.
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
               w -> w <> '') AS ws
      FROM documents),
    stats AS (SELECT count(*) AS n, round(avg(len(ws)), 6) AS avgdl FROM toks),
    words AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS w FROM toks),
    tf AS (
      SELECT w, doc_id, count(*) AS tf, any_value(dl) AS dl
      FROM words WHERE w IN ('spark', 'join', 'window', 'batch')
      GROUP BY w, doc_id),
    df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    scored AS (
      SELECT t.doc_id,
             ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
               * t.tf * (1.2 + 1.0)
               / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * t.dl / s.avgdl)) AS contrib
      FROM tf t JOIN df d USING (w) CROSS JOIN stats s),
    bm AS (
      SELECT doc_id, round(sum(contrib), 6) AS score
      FROM scored GROUP BY doc_id
      ORDER BY score DESC, doc_id LIMIT 20),
    bmr AS (
      SELECT doc_id AS id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM bm),
    e AS (
      SELECT vec_id AS id, embedding::DOUBLE[] AS v,
             sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
               AS nrm
      FROM embeddings),
    qv AS (SELECT v, nrm FROM e WHERE id = 0),
    cos AS (
      SELECT e.id,
             round(list_dot_product(qv.v, e.v) / (qv.nrm * e.nrm), 6) AS cs
      FROM e, qv WHERE e.id <> 0
      ORDER BY cs DESC, e.id LIMIT 20),
    cr AS (SELECT id, row_number() OVER (ORDER BY cs DESC, id) AS rank FROM cos),
    u AS (SELECT id, rank FROM bmr UNION ALL SELECT id, rank FROM cr),
    f AS (
      SELECT id, round(sum(1.0 / (60 + rank)), 9) AS rrf_score
      FROM u GROUP BY id)
    SELECT id AS doc_id, rrf_score,
           CAST(row_number() OVER (ORDER BY rrf_score DESC, id) AS BIGINT)
             AS rank
    FROM f ORDER BY rrf_score DESC, id LIMIT 10
    """,
    doc="Hybrid retrieval: reciprocal-rank fusion (operators/search."
    "rrf_fuse) of the stored-index BM25 top-20 and the exact-cosine "
    "top-20 for one query embedding — the standard two-tower + lexical "
    "combiner (RAG retrieval, candidate mining). Everything the fusion "
    "touches is k-bounded metadata: two 20-row ranked lists union, one "
    "40-row aggregate, one 9dp-rounded rank — the heavy lifting stays "
    "in the two producers, each with its own pruned serving path "
    "(manifest term-range file pruning; broadcast query vector).",
    tags=("text", "search", "similarity"),
)
def q_hybrid_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from endtoend_etl_openmeteo_spark.operators.search import (
        rrf_fuse,
        stored_bm25_topk,
    )
    from endtoend_etl_openmeteo_spark.operators.similarity import cosine_topk

    bm = stored_bm25_topk(spark, _stored_index(spark, sf_dir), SEARCH_TERMS, k=20)
    # rank over a k-bounded (<=20 row) frame — the producer already cut it
    bmr = bm.select(
        F.col("doc_id").alias("id"),
        F.row_number()
        .over(Window.orderBy(F.col("score").desc(), "doc_id"))
        .alias("rank"),
    )
    emb = tbl(spark, sf_dir, "embeddings")
    cos = cosine_topk(emb, emb.filter(F.col("vec_id") == 0), k=20).select(
        F.col("n_id").alias("id"), "rank"
    )
    return rrf_fuse([bmr, cos], k=10).select(
        F.col("id").cast("long").alias("doc_id"), "rrf_score", "rank"
    )


#: Query terms for the maintenance-lifecycle query — a different slice of
#: the corpus vocabulary than SEARCH_TERMS so the two stored-index rows
#: don't collapse into one test.
MAINT_TERMS = ("data", "model", "training", "quality")


@register(
    "q_index_compact",
    # The oracle replays exact BM25 over the WHOLE corpus: the engine side
    # reaches the same rows only if build + 2 appends + compaction is
    # byte-equivalent to a single fresh build — the file shuffling is thus
    # hash-checked, not just boolean-asserted. `maintained` additionally
    # pins that compaction actually ran and left every query term in one
    # file.
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
               w -> w <> '') AS ws
      FROM documents WHERE doc_id < 2000),
    stats AS (SELECT count(*) AS n, round(avg(len(ws)), 6) AS avgdl FROM toks),
    words AS (SELECT doc_id, len(ws) AS dl, unnest(ws) AS w FROM toks),
    tf AS (
      SELECT w, doc_id, count(*) AS tf, any_value(dl) AS dl
      FROM words WHERE w IN ('data', 'model', 'training', 'quality')
      GROUP BY w, doc_id),
    df AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
    scored AS (
      SELECT t.doc_id,
             ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
               * t.tf * (1.2 + 1.0)
               / (t.tf + 1.2 * (1.0 - 0.75 + 0.75 * t.dl / s.avgdl)) AS contrib
      FROM tf t JOIN df d USING (w) CROSS JOIN stats s)
    SELECT doc_id, round(sum(contrib), 6) AS score, TRUE AS maintained
    FROM scored GROUP BY doc_id
    ORDER BY score DESC, doc_id LIMIT 10
    """,
    doc="Full stored-index maintenance lifecycle in one plan: build the "
    "versioned BM25 index over a third of the corpus, APPEND the other "
    "two thirds (operators/search.append_inverted_index — each batch's "
    "posting files overlap every earlier file's term range), run the "
    "compaction tick (compact_inverted_index: vt_maintain re-clusters "
    "the fragmented files on term, the manifest's corpus stats carried "
    "unchanged), then SERVE from the compacted index. The oracle "
    "computes exact BM25 over the whole corpus in SQL, so the served "
    "top-k hash-matches only if append+compact is byte-equivalent to one "
    "fresh build (scale proof: tools/scale_smoke.index_maintenance_smoke "
    "holds files read per query term bounded under continuous appends).",
    tags=("text", "search", "maintenance"),
)
def q_index_compact(spark: SparkSession, sf_dir: str) -> DataFrame:
    import shutil

    from endtoend_etl_openmeteo_spark.operators.search import (
        append_inverted_index,
        compact_inverted_index,
        stored_bm25_topk,
        write_inverted_index,
    )
    from endtoend_etl_openmeteo_spark.operators.versioned import vt_files
    from endtoend_etl_openmeteo_spark.session import scratch_dir

    # doc_id < 2000 slice: the lifecycle proof (fragment -> compact ->
    # serve equals SQL over the union) is corpus-size-independent, and
    # the three partial builds are the query's whole cost
    docs = (
        tbl(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 2000)
        .select("doc_id", "text")
    )
    from endtoend_etl_openmeteo_spark.session import bounded_shuffle

    root = scratch_dir(prefix="bm25_maint_")
    path = root + "/postings"
    coalesce = "spark.sql.adaptive.coalescePartitions.enabled"
    prev_coalesce = spark.conf.get(coalesce)
    try:
        # Harness pins: the 2000-doc slice's three builds are all exchange
        # fixed cost at 32 shuffle partitions (measured 5.5 -> 4.5 s warm
        # at 8), and with AQE's coalescing off each write lands one
        # range-clustered file per partition — the fragmentation a large
        # corpus's appends produce, which the tick must then repair. The
        # slice is corpus-size-independent, so the pins are scale-neutral;
        # file layout never changes results.
        spark.conf.set(coalesce, "false")
        with bounded_shuffle(spark, 8):
            write_inverted_index(docs.filter(F.col("doc_id") % 3 == 0), path)
            append_inverted_index(docs.filter(F.col("doc_id") % 3 == 1), path)
            append_inverted_index(docs.filter(F.col("doc_id") % 3 == 2), path)
            res = compact_inverted_index(spark, path)
            per_term = [
                len(vt_files(spark, path, prune=("term", [t]))) for t in MAINT_TERMS
            ]
            maintained = res["action"] == "optimize" and max(per_term) == 1
            return (
                stored_bm25_topk(spark, path, MAINT_TERMS, k=10)
                .withColumn("maintained", F.lit(bool(maintained)))
                # the scratch index is deleted on return — materialize first
                .localCheckpoint(eager=True)
            )
    finally:
        spark.conf.set(coalesce, prev_coalesce)
        shutil.rmtree(root, ignore_errors=True)


@register(
    "q_leakproof_split",
    oracle=rf"""
    WITH RECURSIVE d AS (
      SELECT doc_id, lang,
             list_distinct(string_split(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS toks
      FROM documents WHERE doc_id < {{max_id}}
    ),
    e AS (
      SELECT a.doc_id AS a, b.doc_id AS b
      FROM d a JOIN d b ON a.lang = b.lang AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.toks, b.toks))
            / len(list_distinct(list_concat(a.toks, b.toks))) >= 0.2
    ),
    sym AS (SELECT a, b FROM e UNION SELECT b, a FROM e),
    reach(a, b) AS (
      SELECT a, b FROM sym
      UNION
      SELECT r.a, s.b FROM reach r JOIN sym s ON r.b = s.a
    ),
    cc AS (SELECT a AS doc_id, least(a, min(b)) AS cluster_id
           FROM reach GROUP BY a)
    SELECT doc.doc_id::BIGINT AS doc_id,
           coalesce(cc.cluster_id, doc.doc_id)::BIGINT AS group_id,
           CASE WHEN substr(md5(CAST(coalesce(cc.cluster_id, doc.doc_id)
                                     AS VARCHAR)), 1, 1) = '0'
                THEN 'val' ELSE 'train' END AS split
    FROM (SELECT doc_id FROM documents WHERE doc_id < {{max_id}}) doc
    LEFT JOIN cc USING (doc_id)
    """.format(max_id=JACCARD_VERIFY_MAX_DOC_ID),
    doc="Leakage-proof train/val split (operators/curate.leakproof_split): "
    "near-duplicate CLUSTERS are the split unit, so a training document's "
    "near-dup can never sit in the eval set — per-doc md5 bucketing "
    "(q_train_split) cannot give this guarantee. Exact-Jaccard edges + "
    "connected components (the q_cc_exact machinery) keyed by canonical "
    "cluster id, md5-bucketed; hash-matched against the DuckDB "
    "recursive-closure oracle. At scale the pair generator swaps to "
    "MinHash-LSH; the split join carries ids only.",
    tags=("text", "sampling", "dedup"),
)
def q_leakproof_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from endtoend_etl_openmeteo_spark.operators.curate import leakproof_split

    docs = tbl(spark, sf_dir, "documents").filter(
        F.col("doc_id") < JACCARD_VERIFY_MAX_DOC_ID
    )
    pairs = ngram_jaccard_pairs(docs, "doc_id", "text", "lang", threshold=0.2)
    return leakproof_split(docs.select("doc_id"), pairs).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.col("group_id").cast("long").alias("group_id"),
        "split",
    )


@register(
    "q_dedup_contract",
    # The dedup family's outputs are hash-specific (rows-only queries);
    # what IS cross-engine checkable is the CONTRACT each one must honor
    # — computed in-plan over a bounded doc_id slice and emitted as
    # hash-checked booleans, the q_ann_recall_contract pattern applied to
    # MinHash/SimHash/incremental/clustering (round-5 verdict task 3).
    oracle="""
    SELECT 'clusters_consistent' AS contract, TRUE AS ok
    UNION ALL SELECT 'incremental_exactdup', TRUE
    UNION ALL SELECT 'minhash_precision', TRUE
    UNION ALL SELECT 'minhash_recall_07', TRUE
    UNION ALL SELECT 'simhash_exactdup', TRUE
    """,
    doc="Dedup-family floor contracts over the doc_id<1000 slice, all "
    "deterministic given the data (hash-derived signatures, no RNG): "
    "minhash_precision — every q_minhash_neardup pair really has exact "
    "shingle Jaccard >= 0.5 (verify-stage math vs an independent "
    "all-pairs recomputation); minhash_recall_07 — banded candidates "
    "recover >= 50% of exact pairs at the stricter 0.7 threshold "
    "(8 bands x 4 rows finds a j=0.7 pair w.p. 0.89, a j=1 pair "
    "always; check_oracle additionally measures 1.00 recall at 0.5); "
    "simhash_exactdup — byte-identical (md5 of normalized text) docs "
    "get identical 64-bit fingerprints; clusters_consistent — "
    "dedup_clusters puts both endpoints of every pair in one cluster "
    "whose id is the min member id; incremental_exactdup — the "
    "two-batch persistent-index screen (q_neardup_incremental's split) "
    "finds every exact-duplicate pair, intra-batch and cross-batch.",
    tags=("dedup", "approx"),
)
def q_dedup_contract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from endtoend_etl_openmeteo_spark.session import bounded_shuffle

    # Harness shuffle pin (the q_stream_join treatment): every exchange
    # in the contract's truth joins / screens runs over the bounded
    # 500-doc slice, so 32 partitions is per-task fixed cost. The five
    # verdicts are INDEPENDENT single-boolean plans over shared
    # checkpointed inputs, so they run concurrently and the collected
    # booleans come back as a literal frame (the q_ann_recall_contract
    # treatment — wall-clock ≈ the slowest verdict, and the emitted-pairs
    # frame computes once instead of once per consumer branch).
    with bounded_shuffle(spark, 8):
        rows = _dedup_contract_rows(spark, sf_dir)
    return spark.createDataFrame(rows, "contract string, ok boolean")


#: contract-specific slice: 500 docs keeps dozens of true pairs at every
#: sf (sf0.01's full corpus) while bounding the all-pairs truth join at
#: 125k candidate pairs
_DEDUP_CONTRACT_MAX_ID = 500


def _dedup_contract_rows(spark: SparkSession, sf_dir: str) -> list:
    from functools import partial

    from endtoend_etl_openmeteo_spark.session import overlap

    def verdict(df) -> tuple:
        r = df.collect()[0]
        return (r["contract"], r["ok"])

    def shared_input_verdicts() -> list:
        with _dedup_contract_parts(spark, sf_dir) as frames:
            return overlap(*(partial(verdict, df) for df in frames.values()))

    # the incremental-screen verdict depends only on the doc slice, so
    # its scratch-index lifecycle overlaps the shared-input build
    # (truth/emitted checkpoints) it doesn't use
    rows, incr = overlap(
        shared_input_verdicts, lambda: _dedup_incr_verdict(spark, sf_dir)
    )
    return rows + [incr]


@contextmanager
def _dedup_contract_parts(spark: SparkSession, sf_dir: str):
    """Yields the verdict frames by contract name, over shared inputs
    checkpointed for the block's duration — split out so tests can pin
    each verdict plan's exchange budget without collecting."""
    max_id = _DEDUP_CONTRACT_MAX_ID

    from endtoend_etl_openmeteo_spark.operators.dedup import (
        cpu_parallelize,
        shingles,
    )
    from endtoend_etl_openmeteo_spark.session import overlap, pinned

    docs = tbl(spark, sf_dir, "documents").filter(F.col("doc_id") < max_id)

    def build_truth() -> DataFrame:
        # exact shingle-Jaccard ground truth over the slice (the same
        # shingle_n=3 sets the minhash verify stage uses), computed via
        # the shingle INVERTED INDEX instead of a nested-loop all-pairs
        # join: a true pair at any threshold > 0 must share >= 1 shingle,
        # so joining the exploded (id, shingle) postings on the shingle
        # and counting gives |A∩B| for exactly the candidate pairs,
        # |A∪B| = nA + nB - i from the per-doc sizes — lossless, and
        # O(shared-shingle pairs) instead of O(slice^2) intersects
        # (measured 4.0 s -> 0.7 s; the round(i/union, 6) double equals
        # the old array_intersect form's).
        postings = cpu_parallelize(docs.select("doc_id", "text")).select(
            F.col("doc_id").alias("id"), F.explode(shingles("text", 3)).alias("s")
        )
        with pinned(postings) as sh:  # feeds sizes AND the self-join
            return stack.enter_context(pinned(jaccard_pairs(sh)))

    def jaccard_pairs(sh) -> DataFrame:
        sz = sh.groupBy("id").agg(F.count("*").alias("n"))  # shingles distinct
        pa, pb = sh.alias("pa"), sh.alias("pb")
        inter = (
            pa.join(pb, ["s"])
            .filter(F.col("pa.id") < F.col("pb.id"))
            .groupBy(F.col("pa.id").alias("id_a"), F.col("pb.id").alias("id_b"))
            .agg(F.count("*").alias("i"))
        )
        return (
            inter.join(
                F.broadcast(
                    sz.select(F.col("id").alias("id_a"), F.col("n").alias("na"))
                ),
                "id_a",
            )
            .join(
                F.broadcast(
                    sz.select(F.col("id").alias("id_b"), F.col("n").alias("nb"))
                ),
                "id_b",
            )
            .select(
                "id_a",
                "id_b",
                F.round(
                    F.col("i") / (F.col("na") + F.col("nb") - F.col("i")), 6
                ).alias("j"),
            )
            .filter(F.col("j") >= 0.5)
        )

    def build_emitted() -> DataFrame:
        # three verdicts consume the emitted pairs — materialize once
        return stack.enter_context(
            pinned(
                minhash_lsh_pairs(
                    docs, "doc_id", "text", n_hashes=32, bands=8,
                    jaccard_threshold=0.5,
                )
            )
        )

    with ExitStack() as stack:
        # The truth build and the minhash pipeline are INDEPENDENT given
        # the doc slice — run them concurrently (guide-§2.6 back-fill;
        # wall ≈ the slower build instead of the sum; each leg's internal
        # shape is unchanged and stays pinned by the plan tests). Both
        # checkpoints stay pinned until the caller's block exits.
        truth, emitted = overlap(build_truth, build_emitted)
        yield _dedup_verdicts(docs, truth, emitted)


def _dedup_verdicts(docs, truth, emitted) -> dict:
    from endtoend_etl_openmeteo_spark.operators.clusters import dedup_clusters
    from endtoend_etl_openmeteo_spark.operators.dedup import cpu_parallelize

    def row(name, ok_col):
        return F.lit(name).alias("contract"), ok_col.alias("ok")

    # 1. precision: emitted \ truth(>=0.5) must be empty
    precision = (
        emitted.join(
            truth.filter(F.col("j") >= 0.5).select("id_a", "id_b"),
            ["id_a", "id_b"],
            "left_anti",
        )
        .agg(F.count("*").alias("v"))
        .select(*row("minhash_precision", F.col("v") == 0))
    )

    # 2. recall floor at the stricter threshold
    t07 = truth.filter(F.col("j") >= 0.7)
    recall = (
        t07.join(
            emitted.select("id_a", "id_b").withColumn("f", F.lit(1)),
            ["id_a", "id_b"],
            "left",
        )
        .agg(
            (
                # non-vacuity: an empty 0.7-truth set must FAIL, not pass
                # trivially — the round-6 incremental_exactdup lesson
                # applied to the recall floor (the slice carries true
                # pairs at every shipped SF; losing them all to a regen
                # should trip the gate, not silently weaken it)
                (F.coalesce(F.sum("f"), F.lit(0)) >= 0.5 * F.count("*"))
                & (F.count("*") >= 1)
            ).alias("ok")
        )
        .select(*row("minhash_recall_07", F.col("ok")))
    )

    # 3. identical normalized text => identical simhash fingerprint
    from endtoend_etl_openmeteo_spark.operators.dedup import normalized_text

    digests = cpu_parallelize(docs.select("doc_id", "text")).select(
        F.col("doc_id").alias("id"), F.md5(normalized_text("text")).alias("fp")
    )
    sim = simhash64(docs, "doc_id", "text").withColumnRenamed("id", "sid")
    simhash_ok = (
        digests.join(sim, digests.id == sim.sid)
        .groupBy("fp")
        .agg(F.countDistinct("simhash").alias("nfp"))
        .agg(F.max("nfp").alias("worst"))
        .select(*row("simhash_exactdup", F.coalesce(F.col("worst"), F.lit(1)) == 1))
    )

    # 4. connected components over the emitted pairs: endpoints share a
    # cluster, and the cluster id is the min member id
    labels = dedup_clusters(emitted.select("id_a", "id_b"))
    la = labels.withColumnRenamed("id", "id_a").withColumnRenamed(
        "cluster_id", "ca"
    )
    lb = labels.withColumnRenamed("id", "id_b").withColumnRenamed(
        "cluster_id", "cb"
    )
    pair_violations = (
        emitted.join(la, "id_a").join(lb, "id_b").filter(F.col("ca") != F.col("cb"))
    )
    rep_violations = (
        labels.groupBy("cluster_id")
        .agg(F.min("id").alias("mn"))
        .filter(F.col("mn") != F.col("cluster_id"))
    )
    clusters_ok = (
        pair_violations.select(F.lit(1).alias("x"))
        .unionByName(rep_violations.select(F.lit(1).alias("x")))
        .agg(F.count("*").alias("v"))
        .select(*row("clusters_consistent", F.col("v") == 0))
    )

    # contract 5 (incremental_exactdup) lives in _dedup_incr_verdict —
    # it depends only on the doc slice, so the caller overlaps it with
    # this shared-input build
    return {
        "minhash_precision": precision,
        "minhash_recall_07": recall,
        "simhash_exactdup": simhash_ok,
        "clusters_consistent": clusters_ok,
    }


def _dedup_incr_verdict(spark: SparkSession, sf_dir: str) -> tuple:
    """The incremental-screen contract row: the two-batch persistent-index
    screen finds every exact-duplicate pair, intra-batch and cross-batch.
    The natural corpus has ZERO byte-identical docs in the slice, so this
    runs on a small constructed corpus: 60 docs plus one replica injected
    into EACH batch — doc 3's copy lands in batch 1 (intra-batch dup),
    doc 7's in batch 2 (cross-batch dup) — and the truth set is derived
    independently by grouping on md5(normalized text): identical text
    implies identical MinHash signatures, so the screen must emit every
    such pair. Standalone (depends only on the doc slice) so the
    contract row can overlap it with the shared-input build."""
    import shutil

    from endtoend_etl_openmeteo_spark.operators.dedup import (
        incremental_neardup,
        normalized_text,
    )
    from endtoend_etl_openmeteo_spark.session import scratch_dir

    docs = tbl(spark, sf_dir, "documents").filter(
        F.col("doc_id") < _DEDUP_CONTRACT_MAX_ID
    )
    base = docs.filter(F.col("doc_id") < 60).select("doc_id", "text")

    def replica(src_id: int, new_id: int) -> DataFrame:
        return base.filter(F.col("doc_id") == src_id).select(
            F.lit(new_id).cast("long").alias("doc_id"), "text"
        )

    b1 = base.filter(F.col("doc_id") < 30).unionByName(replica(3, 900003))
    b2 = base.filter(F.col("doc_id") >= 30).unionByName(replica(7, 900007))
    index_dir = scratch_dir(prefix="dedup_contract_idx_")
    try:
        p1 = incremental_neardup(spark, b1, index_dir, "doc_id", "text",
                                 batch_id="c1")
        p2 = incremental_neardup(spark, b2, index_dir, "doc_id", "text",
                                 batch_id="c2")
    finally:
        shutil.rmtree(index_dir, ignore_errors=True)
    found = (
        p1.unionByName(p2)
        .select(
            F.least("new_id", "match_id").alias("id_a"),
            F.greatest("new_id", "match_id").alias("id_b"),
        )
        .distinct()
    )
    fp = b1.unionByName(b2).select(
        F.col("doc_id").alias("id"), F.md5(normalized_text("text")).alias("fp")
    )
    fa, fb = fp.alias("fa"), fp.alias("fb")
    exact_truth = fa.join(
        fb,
        (F.col("fa.fp") == F.col("fb.fp")) & (F.col("fa.id") < F.col("fb.id")),
    ).select(F.col("fa.id").alias("id_a"), F.col("fb.id").alias("id_b"))
    incr_ok = (
        # completeness (no exact pair missed) AND non-vacuity (the two
        # injected replicas guarantee >= 2 truth pairs — an empty truth
        # set can never silently pass again)
        exact_truth.join(found, ["id_a", "id_b"], "left_anti")
        .agg(F.count("*").alias("v"))
        .crossJoin(F.broadcast(exact_truth.agg(F.count("*").alias("t"))))
        .select(
            F.lit("incremental_exactdup").alias("contract"),
            ((F.col("v") == 0) & (F.col("t") >= 2)).alias("ok"),
        )
    )
    r = incr_ok.collect()[0]
    return (r["contract"], r["ok"])


@register(
    "q_repetition_filter",
    # Counts are engine-independent (run-length fold on Spark, unnest +
    # GROUP BY on DuckDB), fractions round at 6dp on both sides.
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(
               trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' '),
               w -> w <> '') AS toks
      FROM documents),
    g AS (
      SELECT doc_id,
             list_transform(generate_series(1, greatest(len(toks) - 1, 0)),
                            i -> toks[i] || ' ' || toks[i + 1]) AS bi,
             list_transform(generate_series(1, greatest(len(toks) - 4, 0)),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]
                                 || ' ' || toks[i+3] || ' ' || toks[i+4]) AS five
      FROM t),
    bc AS (
      SELECT doc_id, max(c) AS top_bi, sum(c) AS n_bi
      FROM (SELECT doc_id, u.x, count(*) AS c
            FROM g, unnest(bi) AS u(x) GROUP BY doc_id, u.x)
      GROUP BY doc_id),
    fc AS (
      SELECT doc_id,
             sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS dup_five,
             sum(c) AS n_five
      FROM (SELECT doc_id, u.x, count(*) AS c
            FROM g, unnest(five) AS u(x) GROUP BY doc_id, u.x)
      GROUP BY doc_id)
    SELECT g.doc_id,
           round(coalesce(bc.top_bi, 0) / greatest(coalesce(bc.n_bi, 0), 1), 6)
             AS top_bigram_frac,
           round(coalesce(fc.dup_five, 0) / greatest(coalesce(fc.n_five, 0), 1), 6)
             AS dup_5gram_frac,
           (coalesce(bc.top_bi, 0) / greatest(coalesce(bc.n_bi, 0), 1) > 0.18
            OR coalesce(fc.dup_five, 0) / greatest(coalesce(fc.n_five, 0), 1) > 0.30)
             AS is_repetitive
    FROM g LEFT JOIN bc USING (doc_id) LEFT JOIN fc USING (doc_id)
    """,
    doc="Gopher-style intra-document repetition filters (Rae et al. 2021 "
    "quality rules): fraction of 2-grams taken by the most common 2-gram "
    "and fraction of 5-grams occurring more than once, with the combined "
    "repetitive-document verdict. MAP-ONLY at any scale: n-grams and "
    "their frequencies come from the token_counts run-length fold over "
    "the sorted n-gram array inside whole-stage expression evaluation — "
    "no explode, no shuffle, one pass over the corpus (the same trick "
    "TF-IDF uses, applied per document).",
    tags=("text", "quality"),
)
def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from endtoend_etl_openmeteo_spark.operators.dedup import (
        cpu_parallelize,
        token_counts,
    )

    toks = F.filter(
        F.split(normalized_text("text"), " "), lambda w: w != ""
    )

    def grams(col, n):
        # a document with < n tokens has ZERO n-grams: Spark's
        # sequence(1, 0) counts DOWN to [1, 0] and slice(col, 0, n)
        # throws under ANSI mode where the oracle's generate_series(1, 0)
        # is simply empty — guard the short-doc branch explicitly (the
        # token_counts/shingles discipline)
        k = F.size(col) - (n - 1)
        return F.when(k >= 1, F.transform(
            F.sequence(F.lit(1), k),
            lambda i: F.array_join(F.slice(col, i, n), " "),
        )).otherwise(F.array().cast("array<string>"))

    d = cpu_parallelize(tbl(spark, sf_dir, "documents").select("doc_id", "text"))
    # token_counts requires MATERIALIZED sorted columns (Catalyst does not
    # CSE inside higher-order lambdas) — stage them in a select first
    staged = d.select(
        "doc_id",
        F.array_sort(grams(toks, 2)).alias("bi"),
        F.array_sort(grams(toks, 5)).alias("five"),
    ).select(
        "doc_id",
        F.size("bi").alias("n_bi"),
        F.size("five").alias("n_five"),
        token_counts(F.col("bi")).alias("bc"),
        token_counts(F.col("five")).alias("fc"),
    )
    top_bi = F.coalesce(
        F.array_max(F.transform("bc", lambda x: x["tf"])), F.lit(0).cast("long")
    )
    dup_five = F.aggregate(
        "fc",
        F.lit(0).cast("long"),
        lambda acc, x: acc + F.when(x["tf"] >= 2, x["tf"]).otherwise(0),
    )
    bi_frac = top_bi / F.greatest(F.col("n_bi"), F.lit(1))
    five_frac = dup_five / F.greatest(F.col("n_five"), F.lit(1))
    return staged.select(
        "doc_id",
        F.round(bi_frac, 6).alias("top_bigram_frac"),
        F.round(five_frac, 6).alias("dup_5gram_frac"),
        ((bi_frac > 0.18) | (five_frac > 0.30)).alias("is_repetitive"),
    )
