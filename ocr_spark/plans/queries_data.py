"""Training-data curation operators over the ``documents`` table.

The ops a large-scale LLM data pipeline runs between extraction and
training: reproducible sampling and splits, per-source capping (corpus
balancing), vocabulary statistics, fixed-token-budget sequence packing,
and benchmark decontamination.  All are deterministic (hash- or
order-based, never seeded-random) so every one is DuckDB-oracle-checked;
and all are built-in-function plans — window functions + hash aggs, no
Python, no driver-side loops — that survive a 1000-executor corpus.

Determinism trick shared with the oracle: both engines implement md5
identically, so ``md5(cast(doc_id as string))`` is the portable
uniform hash for sampling/ordering (Spark xxhash64 has no DuckDB twin).
"""

from __future__ import annotations

from pyspark.sql import Window as W, functions as F

from ocr_spark.plans.registry import q, t

# portable deterministic uniform hash in [0, 16^4) — first 4 md5 hex
# chars.  Spark's conv() returns STRING, so the cast matters: ordering
# by the uncast value would be lexicographic ('10' < '9') and silently
# disagree with DuckDB's integer ordering.
_H4 = "CAST(conv(substring(md5(cast(doc_id AS STRING)), 1, 4), 16, 10) AS BIGINT)"
_H4_SQL = "CAST(('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS INTEGER)"


@q(
    "sample_deterministic",
    oracle=f"""
    SELECT doc_id, source, n_chars FROM documents
    WHERE {_H4_SQL} % 10 = 3
    """,
)
def sample_deterministic(spark, sf):
    """Reproducible ~10% corpus sample via content-independent hash
    bucketing — the scale-correct sampling shape: no global count, no
    seeded RNG whose draw order depends on partitioning, pure filter
    that fully parallelizes and composes with pushdown on other
    predicates.  Re-running on a grown corpus keeps previously-sampled
    docs sampled (stable by doc_id)."""
    d = t(spark, sf, "documents")
    return d.filter(F.expr(_H4) % 10 == 3).select("doc_id", "source", "n_chars")


@q(
    "split_train_holdout",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN {_H4_SQL} % 100 < 95 THEN 'train' ELSE 'holdout' END
             AS split,
           n_chars
    FROM documents
    """,
)
def split_train_holdout(spark, sf):
    """Deterministic 95/5 train/holdout split from the same hash — the
    two partitions are complementary and stable across runs/parallelism,
    so no document can leak between splits when the job is re-run."""
    d = t(spark, sf, "documents")
    return d.select(
        "doc_id",
        F.when(F.expr(_H4) % 100 < 95, "train").otherwise("holdout").alias("split"),
        "n_chars",
    )


@q(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, source FROM documents
    WHERE {_H4_SQL} % 100 <
          CASE lang WHEN 'en' THEN 20 WHEN 'de' THEN 50 ELSE 100 END
    """,
)
def sample_stratified(spark, sf):
    """Stratified sampling with per-class rates (downsample the
    over-represented language, keep the rare ones whole): the SAME
    portable hash as sample_deterministic, compared against a per-class
    threshold — so the strata are mutually consistent (a doc's fate
    depends only on its id and class), the plan is a pure pushdown-
    composable filter with zero shuffles, and re-running on a grown
    corpus never un-samples a previously kept doc.  Common rebalancing
    shape for multilingual corpora (e.g. 20% of 'en', 50% of 'de', all
    of everything else)."""
    d = t(spark, sf, "documents")
    rate = (
        F.when(F.col("lang") == "en", 20)
        .when(F.col("lang") == "de", 50)
        .otherwise(100)
    )
    return d.filter(F.expr(_H4) % 100 < rate).select("doc_id", "lang", "source")


@q(
    "sample_cap_per_source",
    oracle=f"""
    SELECT doc_id, source FROM (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY {_H4_SQL}, doc_id) AS rn
      FROM documents)
    WHERE rn <= 50
    """,
)
def sample_cap_per_source(spark, sf):
    """Corpus balancing: cap each source (domain) at 50 documents,
    chosen by hash order so the cap is an unbiased deterministic sample
    rather than 'whatever sorted first'.  One window per source — the
    standard defense against a single crawl domain dominating the
    training mix."""
    d = t(spark, sf, "documents")
    w = W.partitionBy("source").orderBy(F.expr(_H4).asc(), F.col("doc_id").asc())
    return (
        d.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 50)
        .select("doc_id", "source")
    )


@q(
    "vocab_topk",
    oracle=r"""
    SELECT token, n FROM (
      SELECT token, COUNT(*) AS n FROM (
        SELECT unnest(string_split(trim(lower(text)), ' ')) AS token
        FROM documents) WHERE token <> ''
      GROUP BY token)
    ORDER BY n DESC, token LIMIT 100
    """,
)
def vocab_topk(spark, sf):
    """Vocabulary statistics: global top-100 tokens by frequency —
    explode → hash agg (map-side partial combine does the heavy
    lifting: the shuffle carries one partial count per distinct token
    per partition, not one row per token occurrence) → TakeOrdered."""
    d = t(spark, sf, "documents")
    toks = d.select(
        F.explode(F.split(F.trim(F.lower("text")), " ")).alias("token")
    ).filter(F.col("token") != "")
    return (
        toks.groupBy("token").agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "token").limit(100)
    )


@q(
    "pack_token_budget",
    oracle=f"""
    SELECT doc_id, n_tokens,
           CAST(FLOOR((cum - n_tokens) / 2048) AS INT) AS bin_id
    FROM (
      SELECT doc_id, n_tokens,
             SUM(n_tokens) OVER (ORDER BY {_H4_SQL}, doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum
      FROM (
        SELECT doc_id, len(string_split(trim(text), ' ')) AS n_tokens
        FROM documents)
    )
    """,
)
def pack_token_budget(spark, sf):
    """Sequence packing: assign documents to fixed-budget (2048-token)
    training bins by running-sum over a deterministic hash order —
    bin_id = floor(prefix_sum / budget).

    A bare ``Window.orderBy`` (no partition spec) would move EVERY row
    into one task — the classic global-cumsum scale trap.  Instead the
    prefix sum is two-phase and fully distributed: the hash key is
    range-bucketed (uniform by construction), each bucket computes its
    local ordered cumsum in parallel, and a tiny per-bucket-totals
    window (one row per bucket) supplies the bucket offsets.  The total
    order, and therefore every bin id, is identical to the naive global
    window — the DuckDB oracle computes it the naive way."""
    d = t(spark, sf, "documents")
    n_range_buckets = 64  # ~uniform: _H4 is a uniform hash in [0, 65536)
    nt = d.select(
        "doc_id",
        F.size(F.split(F.trim("text"), " ")).alias("n_tokens"),
        (F.expr(_H4)).alias("h"),
    ).withColumn(
        "rb", F.floor(F.col("h") / (65536 / n_range_buckets)).cast("int")
    )
    # phase 1: parallel per-bucket ordered cumsum
    w_local = W.partitionBy("rb").orderBy(F.col("h").asc(), F.col("doc_id").asc()
                                          ).rowsBetween(W.unboundedPreceding,
                                                        W.currentRow)
    local = nt.withColumn("lcum", F.sum("n_tokens").over(w_local))
    # phase 2: bucket offsets from per-bucket totals (one row per bucket)
    totals = nt.groupBy("rb").agg(F.sum("n_tokens").alias("btot"))
    w_off = W.orderBy("rb").rowsBetween(W.unboundedPreceding, W.currentRow)
    offsets = totals.withColumn(
        "off", F.sum("btot").over(w_off) - F.col("btot")).select("rb", "off")
    return (
        local.join(F.broadcast(offsets), "rb")
        .select(
            "doc_id",
            "n_tokens",
            F.floor((F.col("off") + F.col("lcum") - F.col("n_tokens")) / 2048)
            .cast("int").alias("bin_id"),
        )
    )


@q(
    "dedup_paragraphs",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, {_H4_SQL} AS h, string_split(trim(text), ' ') AS w
      FROM documents
    ),
    paras AS (
      SELECT doc_id, h, CAST(ceil(len(w) / 25.0) AS INT) AS n_paras,
             c AS idx,
             array_to_string(w[c*25+1 : c*25+25], ' ') AS para
      FROM base,
      UNNEST(generate_series(0, CAST(ceil(len(w) / 25.0) AS INT) - 1)) AS t(c)
    ),
    keep AS (
      SELECT doc_id, n_paras, idx, para FROM (
        SELECT doc_id, n_paras, idx, para,
               ROW_NUMBER() OVER (PARTITION BY para
                                  ORDER BY h, doc_id, idx) AS rn
        FROM paras) WHERE rn = 1
    )
    SELECT doc_id, MAX(n_paras) AS n_paras,
           CAST(COUNT(*) AS INT) AS n_kept,
           array_to_string(list(para ORDER BY idx), ' ') AS text_dedup
    FROM keep GROUP BY doc_id
    """,
)
def dedup_paragraphs(spark, sf):
    """Paragraph-level exact deduplication (CCNet-style): split each
    document into paragraph units (25-word chunks here — the harness
    corpus has no newlines), hash-dedup the units CORPUS-WIDE keeping
    only the globally-first occurrence (first = smallest (doc-hash,
    doc_id, idx), so the choice is deterministic and
    partitioning-independent), then restitch each document from its
    surviving units in original order.  Boilerplate that repeats across
    a site disappears from every copy but one, while unique prose is
    untouched — the standard pre-training pass between extraction and
    exact/near doc-level dedup.

    Plan shape at 100 TB: explode → groupBy(para) with min(struct)
    (map-side partial agg, no window over the exploded corpus) → slim
    4-column semi join back → groupBy(doc_id) restitch via
    sort_array/array_join HOFs.  Two hash shuffles (para, doc_id), both
    on well-distributed keys; the only wide rows are the final per-doc
    reassembly."""
    P = 25
    d = t(spark, sf, "documents")
    base = d.select(
        "doc_id", F.expr(_H4).alias("h"), F.split(F.trim("text"), " ").alias("w")
    )
    paras = base.select(
        "doc_id", "h",
        F.ceil(F.size("w") / P).cast("int").alias("n_paras"),
        F.posexplode(
            F.expr(f"transform(sequence(0, cast(ceil(size(w) / {P}.0) as int) - 1),"
                   f" c -> array_join(slice(w, c * {P} + 1, {P}), ' '))")
        ).alias("idx", "para"),
    )
    first = (
        paras.groupBy("para")
        .agg(F.min(F.struct("h", "doc_id", "idx")).alias("win"))
        .select("para", F.col("win.h").alias("h"),
                F.col("win.doc_id").alias("doc_id"),
                F.col("win.idx").alias("idx"))
    )
    keep = paras.join(first, ["para", "h", "doc_id", "idx"], "left_semi")
    return keep.groupBy("doc_id").agg(
        F.max("n_paras").alias("n_paras"),
        F.count("*").cast("int").alias("n_kept"),
        F.array_join(
            F.transform(F.array_sort(F.collect_list(F.struct("idx", "para"))),
                        lambda s: s["para"]),
            " ",
        ).alias("text_dedup"),
    )


@q(
    "filter_length_outliers",
    oracle="""
    SELECT doc_id, n_chars, b.lo, b.hi
    FROM documents,
         (SELECT quantile_disc(n_chars, 0.05) AS lo,
                 quantile_disc(n_chars, 0.95) AS hi
          FROM documents) b
    WHERE n_chars BETWEEN b.lo AND b.hi
    """,
)
def filter_length_outliers(spark, sf):
    """Stats-gated length filter — the two-pass curation shape: pass 1
    computes corpus length quantiles (p5/p95), pass 2 keeps documents
    inside the band.  Truncated/empty shards and concatenation
    accidents sit in the tails, and a RELATIVE band is robust where a
    fixed threshold drifts as the corpus mix changes.

    Exact type-1 quantiles (= DuckDB quantile_disc: first value whose
    cumulative count reaches ceil(p*n)) via the same distinct-value
    counting as agg_percentile: groupBy(n_chars) shrinks the corpus to
    one row per distinct length BEFORE the single ordered window — the
    window's input is bounded by value cardinality (hundreds for a
    length-like column), never by corpus row count.  The one-row bounds
    then broadcast back over the scan as a plain filter."""
    from pyspark.sql import Window

    d = t(spark, sf, "documents")
    counts = d.groupBy("n_chars").agg(F.count("*").alias("cnt"))
    w_cum = (Window.orderBy("n_chars")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    e = (counts.withColumn("cum", F.sum("cnt").over(w_cum))
         .withColumn("n", F.sum("cnt").over(
             Window.rowsBetween(Window.unboundedPreceding,
                                Window.unboundedFollowing))))
    bounds = e.agg(
        F.min(F.when(F.col("cum") >= F.ceil(F.lit(0.05) * F.col("n")),
                     F.col("n_chars"))).alias("lo"),
        F.min(F.when(F.col("cum") >= F.ceil(F.lit(0.95) * F.col("n")),
                     F.col("n_chars"))).alias("hi"),
    )
    return (
        d.join(F.broadcast(bounds))
        .filter(F.col("n_chars").between(F.col("lo"), F.col("hi")))
        .select("doc_id", "n_chars", "lo", "hi")
    )


@q(
    "text_pii_scrub",
    oracle=r"""
    SELECT doc_id,
           regexp_replace(regexp_replace(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\+?[0-9][0-9()\- ]{7,}[0-9]', '<PHONE>', 'g') AS scrubbed,
           length(regexp_extract_all(text,
               '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails
    FROM documents WHERE doc_id < 3000
    """,
)
def text_pii_scrub(spark, sf):
    """PII redaction — the curation pass every shipped training corpus
    runs: replace email addresses and phone-like digit runs with typed
    placeholder tokens, plus a per-doc match count for audit sampling.
    Pure JVM regexp_replace (patterns restricted to constructs Java
    regex and DuckDB/RE2 interpret identically — no lookaround, no
    Unicode classes), so the scrub runs inside whole-stage codegen."""
    d = t(spark, sf, "documents").filter(F.col("doc_id") < 3000)
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    phone = r"\+?[0-9][0-9()\- ]{7,}[0-9]"
    return d.select(
        "doc_id",
        F.regexp_replace(
            F.regexp_replace("text", email, "<EMAIL>"), phone, "<PHONE>"
        ).alias("scrubbed"),
        # Column API, NOT F.expr with an embedded literal: the SQL parser
        # unescapes string literals, silently degrading '\.' to any-char
        F.size(F.regexp_extract_all("text", F.lit(email), F.lit(0))
               ).alias("n_emails"),
    )


@q(
    "text_repetition_score",
    oracle=r"""
    SELECT doc_id,
           n_words,
           n_distinct_words,
           ROUND(1.0 - CAST(n_distinct_words AS DOUBLE) / n_words, 4)
             AS dup_word_frac
    FROM (
      SELECT doc_id,
             len(string_split(trim(text), ' ')) AS n_words,
             len(list_distinct(string_split(trim(text), ' ')))
               AS n_distinct_words
      FROM documents)
    WHERE n_words >= 3
    """,
)
def text_repetition_score(spark, sf):
    """Repetition quality signal (Gopher-style duplicate-word fraction):
    heavily repeated tokens are the classic low-quality/boilerplate
    marker.  Word granularity (not '.'-sentences) so the signal is
    non-degenerate on any whitespace-tokenized corpus — the harness
    corpus contains no sentence punctuation at all.  All JVM array ops
    (split / array_distinct / size), no shuffle beyond the scan; the
    formula itself is pinned by a planted-duplicates unit test."""
    d = t(spark, sf, "documents")
    words = F.split(F.trim("text"), " ")
    return (
        d.select(
            "doc_id",
            F.size(words).alias("n_words"),
            F.size(F.array_distinct(words)).alias("n_distinct_words"),
        )
        .filter(F.col("n_words") >= 3)
        .select(
            "doc_id", "n_words", "n_distinct_words",
            F.round(1.0 - F.col("n_distinct_words").cast("double")
                    / F.col("n_words"), 4).alias("dup_word_frac"),
        )
    )


@q(
    "decontaminate_vs_holdout",
    oracle=r"""
    WITH bench AS (
      SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
      WHERE doc_id % 50 = 0
    ),
    bgrams AS (
      SELECT DISTINCT unnest(list_transform(
               generate_series(1, greatest(len(ws) - 7, 0)),
               i -> array_to_string(ws[i:i+7], ' '))) AS g
      FROM bench
    ),
    corpus AS (
      SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
      WHERE doc_id % 50 <> 0
    ),
    cgrams AS (
      SELECT doc_id, unnest(list_distinct(list_transform(
               generate_series(1, greatest(len(ws) - 7, 0)),
               i -> array_to_string(ws[i:i+7], ' ')))) AS g
      FROM corpus
    )
    SELECT cgrams.doc_id, COUNT(*) AS n_hits
    FROM cgrams JOIN bgrams USING (g)
    GROUP BY cgrams.doc_id
    """,
)
def decontaminate_vs_holdout(spark, sf):
    """Benchmark decontamination: flag training documents sharing any
    8-gram with the held-out set (doc_id % 50 = 0 stands in for the
    benchmark corpus).  Plan shape: distinct benchmark grams (small —
    broadcastable at real benchmark sizes) joined against exploded
    corpus grams; output = contaminated doc + overlap count, which a
    pipeline uses to drop or audit those documents."""
    d = t(spark, sf, "documents")
    gram = (
        "CASE WHEN size(split(trim(text), ' ')) >= 8 THEN "
        "array_distinct(transform(sequence(0, size(split(trim(text), ' ')) - 8),"
        " i -> array_join(slice(split(trim(text), ' '), i + 1, 8), ' ')))"
        " ELSE array() END"
    )
    bench = (
        d.filter(F.col("doc_id") % 50 == 0)
        .select(F.explode(F.expr(gram)).alias("g")).distinct()
    )
    corpus = (
        d.filter(F.col("doc_id") % 50 != 0)
        .select("doc_id", F.explode(F.expr(gram)).alias("g"))
    )
    return (
        corpus.join(F.broadcast(bench), "g")
        .groupBy("doc_id").agg(F.count("*").alias("n_hits"))
    )


@q(
    "text_unigram_logprob",
    oracle="""
    WITH words AS (
      SELECT doc_id, unnest(string_split(trim(lower(text)), ' ')) AS w
      FROM documents
    ),
    wnz AS (SELECT doc_id, w FROM words WHERE w <> ''),
    freq AS (SELECT w, COUNT(*) AS cnt FROM wnz GROUP BY w),
    tot AS (SELECT SUM(cnt) AS n FROM freq),
    lp AS (
      SELECT w,
             CAST(ROUND(ln(CAST(cnt AS DOUBLE) / n) * 1000000) AS BIGINT)
               AS lp_fix
      FROM freq, tot
    )
    SELECT doc_id,
           COUNT(*) AS n_words,
           CAST(SUM(lp_fix) AS DOUBLE) / 1000000.0 / COUNT(*)
             AS avg_logprob
    FROM wnz JOIN lp USING (w)
    GROUP BY doc_id
    """,
)
def text_unigram_logprob(spark, sf):
    """Corpus-LM quality score (the CCNet/perplexity-filter shape with
    the LM replaced by the corpus's own unigram distribution): score
    each document by the mean log-probability of its words under the
    global unigram model, so gibberish / rare-token documents surface
    with low scores for quality-based filtering.

    Two-pass plan that survives 100 TB: pass 1 builds the word-frequency
    table with a map-side-combined hash agg (shuffle carries one partial
    count per distinct token per partition); pass 2 re-attaches per-TYPE
    log-probs to the exploded corpus via a broadcast join (the vocab is
    orders of magnitude smaller than the corpus) and reduces per doc.
    Cross-engine float parity: each word type's log-prob is fixed-pointed
    to integer micro-nats once, so the per-doc reduction is an exact
    int64 sum — aggregation order cannot perturb the result."""
    d = t(spark, sf, "documents")
    wnz = d.select(
        "doc_id",
        F.explode(F.split(F.trim(F.lower("text")), " ")).alias("w"),
    ).filter(F.col("w") != "")
    freq = wnz.groupBy("w").agg(F.count("*").alias("cnt"))
    tot = freq.agg(F.sum("cnt").alias("n"))
    lp = freq.crossJoin(F.broadcast(tot)).select(
        "w",
        F.round(F.log(F.col("cnt").cast("double") / F.col("n")) * 1000000)
        .cast("long").alias("lp_fix"),
    )
    return (
        wnz.join(F.broadcast(lp), "w")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_words"),
            (F.sum("lp_fix").cast("double") / F.lit(1000000.0) / F.count("*"))
            .alias("avg_logprob"),
        )
    )


@q(
    "filter_domain_blocklist",
    oracle="""
    WITH blocked AS (
      SELECT source FROM (SELECT DISTINCT source FROM documents)
      WHERE CAST(('0x' || substring(md5(source), 1, 4)) AS INTEGER) % 5 = 2
    )
    SELECT doc_id, source FROM documents
    WHERE source NOT IN (SELECT source FROM blocked)
    """,
)
def filter_domain_blocklist(spark, sf):
    """URL/domain blocklist filtering — the first gate of every crawl
    curation pipeline: drop all documents from denied domains.  The
    blocklist here is derived deterministically (sources hashing into
    bucket 2 of 5 stand in for the denylist file — a bucket verified
    non-empty on the harness corpus so the check is non-vacuous) so the oracle can
    reproduce it; in production it is a table read.

    Plan shape for 100 TB: the blocklist (thousands of domains) is
    broadcast and the corpus is filtered with a broadcast LEFT ANTI
    join — zero shuffle of the corpus, composes with scan pushdown on
    other predicates."""
    d = t(spark, sf, "documents")
    h4_src = (
        "CAST(conv(substring(md5(source), 1, 4), 16, 10) AS BIGINT)"
    )
    blocked = (
        d.select("source").distinct()
        .filter(F.expr(h4_src) % 5 == 2)
    )
    return (
        d.join(F.broadcast(blocked), "source", "left_anti")
        .select("doc_id", "source")
    )


# URL canonicalization — the dedup-key normalizer a web corpus runs
# before ANY url-keyed operation (exact URL dedup, per-host capping,
# robots joins): scheme/host lowercased, www. and default ports
# stripped, fragment dropped, utm_* tracking params removed, remaining
# query params SORTED (param order is transport noise), trailing path
# slash trimmed.  The messy input URL is synthesized deterministically
# from doc_id (uppercase host, :443, unordered params, fragment — one
# of each canonicalization hazard) so the oracle reproduces it exactly.
@q(
    "url_canonicalize",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             'HTTPS://WWW.Example' || (doc_id % 7) || '.COM:443/Path/p'
               || doc_id || (CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END)
               || '?utm_source=feed&b=2&a=' || (doc_id % 5)
               || (CASE WHEN doc_id % 2 = 0 THEN '&utm_campaign=x' ELSE '' END)
               || '#sec' || (doc_id % 4) AS url
      FROM documents
    ),
    parts AS (
      SELECT doc_id,
             split_part(regexp_replace(url, '#.*$', ''), '?', 1) AS pathful,
             split_part(regexp_replace(url, '#.*$', ''), '?', 2) AS qry
      FROM raw
    ),
    base AS (
      SELECT doc_id,
             regexp_replace(
               regexp_replace(
                 lower(regexp_extract(pathful, '^[A-Za-z]+://[^/]*', 0)),
                 '^(https://[^/]*):443$|^(http://[^/]*):80$', '\\1\\2'),
               '^(https?://)www\\.', '\\1') AS hostpart,
             regexp_replace(
               regexp_replace(pathful, '^[A-Za-z]+://[^/]*', ''),
               '/+$', '') AS path,
             array_to_string(list_sort(list_filter(
               string_split(qry, '&'),
               p -> p != '' AND p NOT LIKE 'utm_%')), '&') AS params
      FROM parts
    )
    SELECT doc_id,
           hostpart || path ||
             (CASE WHEN params = '' THEN '' ELSE '?' || params END) AS url,
           regexp_extract(hostpart, '^[a-z]+://([^/:]+)', 1) AS host
    FROM base
    """,
)
def url_canonicalize(spark, sf):
    """100 TB shape: pure JVM string/array expressions inside whole-stage
    codegen — no UDF, no shuffle (narrow map over the scan); the
    canonical url then feeds hash-partitioned dedup/capping downstream.
    Regexes stay in the Java∩RE2 common subset (ASCII classes, no
    lookaround) so both engines match identically."""
    d = t(spark, sf, "documents")
    url = F.concat(
        F.lit("HTTPS://WWW.Example"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".COM:443/Path/p"), F.col("doc_id").cast("string"),
        F.when(F.col("doc_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=feed&b=2&a="), (F.col("doc_id") % 5).cast("string"),
        F.when(F.col("doc_id") % 2 == 0, F.lit("&utm_campaign=x"))
        .otherwise(F.lit("")),
        F.lit("#sec"), (F.col("doc_id") % 4).cast("string"),
    )
    nofrag = F.regexp_replace(url, F.lit("#.*$"), F.lit(""))
    pathful = F.split_part(nofrag, F.lit("?"), F.lit(1))
    qry = F.split_part(nofrag, F.lit("?"), F.lit(2))
    hostraw = F.lower(F.regexp_extract(pathful, "^[A-Za-z]+://[^/]*", 0))
    # Java backreferences are $1; the DuckDB twin uses RE2's \1
    hostpart = F.regexp_replace(
        F.regexp_replace(
            hostraw,
            F.lit("^(https://[^/]*):443$|^(http://[^/]*):80$"),
            F.lit("$1$2")),
        F.lit("^(https?://)www\\."), F.lit("$1"))
    path = F.regexp_replace(
        F.regexp_replace(pathful, F.lit("^[A-Za-z]+://[^/]*"), F.lit("")),
        F.lit("/+$"), F.lit(""))
    params = F.array_join(
        F.array_sort(F.filter(
            F.split(qry, "&"),
            lambda p: (p != "") & ~p.startswith("utm_"))), "&")
    canon = F.concat(
        hostpart, path,
        F.when(params == "", F.lit("")).otherwise(F.concat(F.lit("?"), params)))
    host = F.regexp_extract(hostpart, "^[a-z]+://([^/:]+)", 1)
    return d.select("doc_id", canon.alias("url"), host.alias("host"))


# Bloom-filter negative filter (semi-join reduction): drop every corpus
# doc whose content fingerprint appears in a key set, WITHOUT joining
# the corpus against the key set.  The key set is folded into a 64Kbit
# Bloom bitmap (1024 bigint words — a few KB broadcast regardless of
# key-set size); the corpus probes the broadcast bitmap, and only the
# bloom CANDIDATES (true members + ~fp_rate of the corpus) reach the
# exact anti-join verify.  Because a Bloom filter has NO false
# negatives, prefilter+verify is provably identical to the exact
# anti-join — which is exactly what the DuckDB oracle computes.
BLOOM_M = 1 << 16   # bits in the bitmap
BLOOM_K = 3         # hash functions (xxhash64 seeded by constant column)


@q(
    "filter_bloom_negative",
    oracle="""
    SELECT doc_id, source FROM documents
    WHERE md5(text) NOT IN (
      SELECT md5(text) FROM documents WHERE doc_id % 11 = 3
    )
    """,
)
def filter_bloom_negative(spark, sf):
    """100 TB shape: the corpus is never shuffled and never joined
    against the raw key set — one broadcast of a constant-size bitmap
    + per-row probe, then an exact verify confined to candidates
    (at text-dedup fp rates, a vanishing corpus fraction).  This is the
    pattern when the key set is too large to broadcast raw (billions of
    fingerprints) but its bitmap is not.  All JVM: xxhash64 probes,
    bit_or bitmap agg, bitwise AND checks."""
    d = t(spark, sf, "documents")
    fp = F.md5("text")
    keys = (d.filter(F.col("doc_id") % 11 == 3)
            .select(fp.alias("fp")).distinct())

    def positions(col):
        return [F.pmod(F.xxhash64(col, F.lit(i)), F.lit(BLOOM_M))
                for i in range(BLOOM_K)]

    # build: key fp → K bit positions → (word, mask) → bit_or per word
    kpos = keys.select(F.explode(F.array(*positions(F.col("fp")))).alias("p"))
    bitmap = (
        kpos.select((F.col("p") / 64).cast("long").alias("word"),
                    F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("m"))
        .groupBy("word").agg(F.bit_or("m").alias("bits"))
    )
    # probe: each doc's K (word, mask) probes against the broadcast
    # bitmap; a doc is a candidate iff ALL K bits are set (a missing
    # word row means the bit is unset — left join keeps the probe row)
    probes = d.select(
        "doc_id", "source", fp.alias("fp"),
        F.explode(F.array(*positions(fp))).alias("p"),
    ).select(
        "doc_id", "source", "fp",
        (F.col("p") / 64).cast("long").alias("word"),
        F.expr("shiftleft(1L, CAST(p % 64 AS INT))").alias("m"),
    )
    hits = (
        probes.join(F.broadcast(bitmap), "word", "left")
        .withColumn("hit", (F.coalesce(F.col("bits"), F.lit(0))
                            .bitwiseAND(F.col("m")) != 0).cast("int"))
        .groupBy("doc_id", "source", "fp")
        .agg(F.sum("hit").alias("nhit"))
    )
    clean_sure = hits.filter(F.col("nhit") < BLOOM_K)  # definite non-members
    candidates = hits.filter(F.col("nhit") == BLOOM_K)
    # exact verify confined to candidates: anti-join the raw key set
    cand_clean = candidates.join(F.broadcast(keys), "fp", "left_anti")
    return (
        clean_sure.select("doc_id", "source")
        .unionByName(cand_clean.select("doc_id", "source"))
    )


@q(
    "text_normalize",
    oracle="""
    SELECT doc_id,
           replace(replace(replace(replace(replace(replace(replace(
             replace(replace(replace(replace(
               'don’t — “' || text || '”… ﬁnal–draft' || chr(173),
             'ﬁ', 'fi'), 'ﬂ', 'fl'),
             '—', '-'), '–', '-'),
             '“', '"'), '”', '"'),
             '’', ''''), '‘', ''''),
             '…', '...'),
             chr(173), ''), chr(8203), '') AS text_norm
    FROM documents
    """,
)
def text_normalize(spark, sf):
    """Unicode normalization ahead of hash-keyed dedup: typographic
    quotes/dashes/ellipses folded to ASCII, the fi/fl ligatures PDF
    extraction legitimately emits (AGL /fi /fl glyphs) expanded, soft
    hyphens and zero-width spaces stripped — without this, the same
    sentence extracted from a PDF and an HTML page hashes differently
    and every downstream dedup family under-recalls.  The messy input
    is synthesized around the corpus text (so the oracle reproduces it);
    the folding chain itself is the operator.

    100 TB shape: a translate/replace chain inside whole-stage codegen —
    narrow map over the scan, no shuffle, no Python, no regex engine
    (plain literal replaces)."""
    d = t(spark, sf, "documents")
    messy = F.concat(F.lit("don’t — “"), F.col("text"),
                     F.lit("”… ﬁnal–draft­"))
    folds = [("ﬁ", "fi"), ("ﬂ", "fl"), ("—", "-"),
             ("–", "-"), ("“", '"'), ("”", '"'),
             ("’", "'"), ("‘", "'"), ("…", "..."),
             ("­", ""), ("​", "")]
    col = messy
    for a, b in folds:
        col = F.replace(col, F.lit(a), F.lit(b))
    return d.select("doc_id", col.alias("text_norm"))


@q(
    "parse_try_cast_dirty",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0 THEN CAST(doc_id * 7 AS VARCHAR)
                  WHEN doc_id % 3 = 1 THEN 'n/a'
                  ELSE ' ' || doc_id || ' ' END AS num_s,
             CASE WHEN doc_id % 4 = 0
                  THEN '2024-' || lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0')
                       || '-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                  ELSE 'not a date' END AS date_s
      FROM documents
    )
    SELECT doc_id,
           TRY_CAST(num_s AS BIGINT) AS n,
           (TRY_CAST(num_s AS BIGINT) IS NOT NULL) AS n_ok,
           strftime(TRY_CAST(date_s AS DATE), '%Y-%m-%d') AS d,
           (TRY_CAST(date_s AS DATE) IS NOT NULL) AS d_ok
    FROM raw
    """,
)
def parse_try_cast_dirty(spark, sf):
    """Dirty-data parsing surface: TRY_CAST semantics — malformed
    numerics/dates become NULL instead of failing the job, the
    non-negotiable ingestion behavior at web scale (one bad row must
    never kill a 10^12-row load; ANSI mode's throwing CAST is the
    opposite default).  Messy inputs are synthesized deterministically
    (valid / garbage / whitespace-padded) so the oracle reproduces them.

    100 TB shape: pure codegen row-local expressions, no shuffle."""
    d = t(spark, sf, "documents")
    num_s = (
        F.when(F.col("doc_id") % 3 == 0, (F.col("doc_id") * 7).cast("string"))
        .when(F.col("doc_id") % 3 == 1, F.lit("n/a"))
        .otherwise(F.concat(F.lit(" "), F.col("doc_id").cast("string"),
                            F.lit(" ")))
    )
    date_s = (
        F.when(F.col("doc_id") % 4 == 0,
               F.concat(F.lit("2024-"),
                        F.lpad((F.col("doc_id") % 12 + 1).cast("string"), 2, "0"),
                        F.lit("-"),
                        F.lpad((F.col("doc_id") % 28 + 1).cast("string"), 2, "0")))
        .otherwise(F.lit("not a date"))
    )
    # plain try_cast (after trim) — exact DuckDB TRY_CAST semantics
    n = F.expr("try_cast(trim(num_s) AS BIGINT)")
    dd = F.expr("try_cast(date_s AS DATE)")
    raw = d.select("doc_id", num_s.alias("num_s"), date_s.alias("date_s"))
    return raw.select(
        "doc_id",
        n.alias("n"), n.isNotNull().alias("n_ok"),
        F.date_format(dd, "yyyy-MM-dd").alias("d"),
        dd.isNotNull().alias("d_ok"),
    )


@q(
    "text_extract_entities",
    oracle="""
    WITH raw AS (
      SELECT doc_id,
             text || ' contact admin' || (doc_id % 5) || '@example' || (doc_id % 3)
                  || '.org or see https://site' || (doc_id % 7) || '.example/p/'
                  || doc_id || ' now' AS text
      FROM documents
    )
    SELECT doc_id,
           array_to_string(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'), '|') AS emails,
           array_to_string(regexp_extract_all(text,
             'https?://[A-Za-z0-9./_-]+'), '|') AS urls,
           CAST(len(regexp_extract_all(text,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails
    FROM raw
    """,
)
def text_extract_entities(spark, sf):
    """Entity harvesting: emails and URLs pulled from document text via
    regexp_extract_all — the PII-inventory / link-graph-seed primitive.
    Patterns stay in the Java∩RE2 common subset (explicit ASCII classes,
    no lookaround, no \\w shorthand whose Unicode breadth differs across
    engines).  Deterministic entities are appended to the corpus text so
    the oracle reproduces them and every doc is non-vacuous.

    100 TB shape: codegen-resident regex scan, no shuffle; feeds
    text_pii_scrub (removal) and url_canonicalize (normalization).

    The match lists are array_join'd to '|'-delimited strings: the
    driver's canonicalizer pandas-sorts every column and cannot hash
    ArrayType cells (the round-3 failure mode) — oracle-checked queries
    must emit only scalar top-level columns."""
    d = t(spark, sf, "documents")
    text = F.concat(
        F.col("text"), F.lit(" contact admin"),
        (F.col("doc_id") % 5).cast("string"), F.lit("@example"),
        (F.col("doc_id") % 3).cast("string"), F.lit(".org or see https://site"),
        (F.col("doc_id") % 7).cast("string"), F.lit(".example/p/"),
        F.col("doc_id").cast("string"), F.lit(" now"))
    # Column-form regexp (NOT F.expr string literals — the SQL parser
    # would unescape \\. to a bare dot and silently change the pattern)
    email_re = F.lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")
    url_re = F.lit("https?://[A-Za-z0-9./_-]+")
    raw = d.select("doc_id", text.alias("text"))
    emails = F.regexp_extract_all("text", email_re, F.lit(0))
    return raw.select(
        "doc_id",
        F.array_join(emails, "|").alias("emails"),
        F.array_join(
            F.regexp_extract_all("text", url_re, F.lit(0)), "|").alias("urls"),
        F.size(emails).alias("n_emails"),
    )


@q(
    "diag_key_skew",
    oracle="""
    WITH c AS (
      SELECT source AS key, COUNT(*) AS n FROM documents GROUP BY source
    ), tot AS (SELECT SUM(n) AS t, COUNT(*) AS k FROM c)
    SELECT c.key, CAST(c.n AS BIGINT) AS n,
           ROUND(CAST(c.n AS DOUBLE) / tot.t, 6) AS share,
           ROUND(CAST(c.n AS DOUBLE) * tot.k / tot.t, 4) AS skew_factor,
           (c.n * tot.k > 2 * tot.t) AS is_hot
    FROM c, tot
    """,
)
def diag_key_skew(spark, sf):
    """Partition-skew diagnosis: per-key row share and skew factor
    (key's share × key count — 1.0 is perfectly uniform), flagging keys
    >2× uniform.  This is the profile run BEFORE choosing a shuffle
    strategy: its output decides between a plain hash join, AQE skew
    handling, or explicit salting (join_salted_skew / pipeline.balanced_extract
    are this repo's consumers of that decision).

    100 TB shape: one map-side-combined count agg + a single-row
    broadcast total — the corpus is scanned once, one narrow column."""
    d = t(spark, sf, "documents")
    c = d.groupBy(F.col("source").alias("key")).agg(F.count("*").alias("n"))
    tot = c.agg(F.sum("n").alias("t"), F.count("*").alias("k"))
    return (
        c.crossJoin(F.broadcast(tot))
        .select(
            "key", F.col("n").cast("long").alias("n"),
            F.round(F.col("n") / F.col("t"), 6).alias("share"),
            F.round(F.col("n") * F.col("k") / F.col("t"), 4).alias("skew_factor"),
            (F.col("n") * F.col("k") > 2 * F.col("t")).alias("is_hot"),
        )
    )


@q(
    "dedup_url_keep_first",
    oracle="""
    SELECT 'https://example' || (doc_id % 7) || '.com/page' || (doc_id % 50)
             AS url,
           CAST(min(doc_id) AS BIGINT) AS keeper,
           CAST(COUNT(*) AS INT) AS n_dupes
    FROM documents
    GROUP BY 1
    """,
)
def dedup_url_keep_first(spark, sf):
    """Crawl-curation URL dedup: keep the FIRST (min doc_id — in a real
    crawl, earliest fetch) document per canonical URL.  Recrawls and
    mirror paths collapse to one keeper before any content-level dedup
    runs — the cheapest dedup tier, applied ahead of minhash/simhash.

    100 TB shape: ONE map-side-combined hash agg on the (canonical) url
    key; no window over the corpus, no self-join.  The synthetic url
    uses doc_id residues so collision groups exist to collapse (the
    canonicalization step itself is url_canonicalize — this op is the
    keyed reduction that follows it)."""
    d = t(spark, sf, "documents")
    url = F.concat(
        F.lit("https://example"), (F.col("doc_id") % 7).cast("string"),
        F.lit(".com/page"), (F.col("doc_id") % 50).cast("string"),
    )
    return (
        d.select(url.alias("url"), "doc_id")
        .groupBy("url")
        .agg(F.min("doc_id").cast("bigint").alias("keeper"),
             F.count("*").cast("int").alias("n_dupes"))
    )


@q(
    "sample_importance_weighted",
    oracle=f"""
    SELECT doc_id, n_chars FROM documents
    WHERE {_H4_SQL} * 2000 < n_chars * 65536
    """,
)
def sample_importance_weighted(spark, sf):
    """Deterministic importance-weighted Bernoulli sampling: doc kept
    with probability min(1, n_chars/2000) — longer documents are kept
    preferentially (quality-weighted corpus thinning), short ones are
    thinned proportionally.  The accept test compares the SAME portable
    uniform hash as sample_deterministic against the weight, in PURE
    INTEGER math (h·2000 < n_chars·65536 ⟺ h/65536 < n_chars/2000) so
    there are no float-boundary ties for engines to disagree on.

    100 TB shape: a stateless filter — zero shuffles, composes with
    pushdown, partitioning-invariant, and stable under corpus growth
    (a doc's fate is a pure function of its id and weight)."""
    d = t(spark, sf, "documents")
    keep = F.expr(_H4) * 2000 < F.col("n_chars").cast("bigint") * 65536
    return d.filter(keep).select("doc_id", "n_chars")


@q(
    "vocab_top_bigram_merges",
    oracle=r"""
    WITH toks AS (
      SELECT string_split(trim(text), ' ') AS ws FROM documents
    ),
    bg AS (
      SELECT unnest(list_transform(
               generate_series(1, greatest(len(ws) - 1, 0)),
               i -> ws[i] || ' ' || ws[i+1])) AS bigram
      FROM toks
    )
    SELECT bigram, CAST(COUNT(*) AS BIGINT) AS n
    FROM bg GROUP BY bigram
    ORDER BY n DESC, bigram LIMIT 20
    """,
)
def vocab_top_bigram_merges(spark, sf):
    """One iteration of BPE-style merge selection: count every ADJACENT
    token pair occurrence (not distinct-per-doc — BPE counts corpus
    occurrences) and take the top merges.  Deterministic ranking key
    (n DESC, bigram ASC) so both engines select identical rows.

    100 TB shape: the bigram construction is a JVM HOF over the token
    array (zero Python), the count is one map-side-combined hash agg,
    and the top-k is TakeOrderedAndProject (per-partition heap + driver
    merge of k rows — no global sort).  Iterated BPE training would
    re-run this plan per merge round over the re-tokenized corpus."""
    d = t(spark, sf, "documents")
    bg = d.select(
        F.split(F.trim("text"), " ").alias("ws")
    ).select(
        F.explode(F.expr(
            "CASE WHEN size(ws) >= 2 THEN "
            "transform(sequence(1, size(ws) - 1),"
            " i -> concat_ws(' ', element_at(ws, i), element_at(ws, i + 1)))"
            " ELSE array() END"
        )).alias("bigram")
    )
    return (
        bg.groupBy("bigram").agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bigram").limit(20)
    )


@q(
    "mix_to_target_distribution",
    oracle=f"""
    WITH counts AS (
      SELECT source, COUNT(*) AS n FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n,
             CASE WHEN source IN ('src0','src1','src2','src3') THEN 6
                  WHEN source IN ('src4','src5','src6','src7','src8','src9')
                       THEN 3
                  ELSE 1 END AS wt
      FROM counts
    ),
    tot AS (SELECT SUM(n) AS nn, SUM(wt) AS wsum FROM w),
    quota AS (
      SELECT source, LEAST((wt * ((3 * nn) // 10)) // wsum, n) AS cap
      FROM w, tot
    ),
    ranked AS (
      SELECT doc_id, source,
             ROW_NUMBER() OVER (PARTITION BY source
                                ORDER BY {_H4_SQL}, doc_id) AS rn
      FROM documents
    )
    SELECT r.doc_id, r.source
    FROM ranked r JOIN quota q USING (source)
    WHERE r.rn <= q.cap
    """,
)
def mix_to_target_distribution(spark, sf):
    """Training-mixture construction (the DoReMi / Pile-style reweighting
    step): given per-source mixture WEIGHTS (here 6:3:1 across three
    source tiers) and a total token/doc budget (30% of the corpus),
    compute each source's quota and draw exactly that many documents —
    deterministically, by the same portable md5 hash order the sampling
    family uses, so re-runs and engine twins agree row-for-row.

    All quota arithmetic is INTEGER (wt·B // Σwt) — no float rounding
    to diverge between engines at exact-integer boundaries.

    Shape (100 TB posture): counts/weights/quotas live in a ~#sources-row
    frame built by one map-side-combined agg and broadcast back; the
    corpus-side work is one window row_number per source partition.  A
    source-skewed corpus makes that window's partition huge — production
    either pre-filters with a hash-threshold estimate (keep ~cap/n by
    hash, then exact-rank the survivors) or accepts approximate quotas
    with a pure hash filter (zero shuffle, the sample_stratified shape);
    the exact-rank reference semantics are kept here."""
    d = t(spark, sf, "documents")
    counts = d.groupBy("source").agg(F.count("*").alias("n"))
    wt = (
        F.when(F.col("source").isin("src0", "src1", "src2", "src3"), 6)
        .when(F.col("source").isin(
            "src4", "src5", "src6", "src7", "src8", "src9"), 3)
        .otherwise(1)
    )
    w = counts.select("source", "n", wt.alias("wt"))
    tot = w.agg(F.sum("n").alias("nn"), F.sum("wt").alias("wsum"))
    quota = (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.least(
                F.expr("(wt * ((3 * nn) div 10)) div wsum"), F.col("n")
            ).alias("cap"),
        )
    )
    from pyspark.sql import Window as _W

    win = _W.partitionBy("source").orderBy(F.expr(_H4), "doc_id")
    ranked = d.select(
        "doc_id", "source", F.row_number().over(win).alias("rn"))
    return (
        ranked.join(F.broadcast(quota), "source")
        .filter(F.col("rn") <= F.col("cap"))
        .select("doc_id", "source")
    )


@q(
    "filter_quality_gate",
    oracle="""
    WITH f AS (
      SELECT doc_id,
             list_filter(string_split(trim(text), ' '), w -> w <> '') AS ws,
             length(text) AS n_chars,
             length(text)
               - length(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))
               AS n_sym
      FROM documents
    ),
    m AS (
      SELECT doc_id, n_chars, n_sym,
             len(ws) AS n_words,
             len(list_distinct(ws)) AS n_distinct,
             -- COALESCE: list_sum([]) is NULL in DuckDB but the Spark
             -- side's aggregate() starts from 0 — keep twins equal on
             -- zero-word documents
             COALESCE(list_sum(list_transform(ws, w -> length(w))), 0)
               AS sum_wlen,
             list_max(list_transform(ws, w -> length(w))) AS max_wlen
      FROM f
    )
    SELECT doc_id,
           CAST(n_words AS INT) AS n_words,
           (n_words >= 5)                        AS r_min_words,
           (sum_wlen >= 3 * n_words
            AND sum_wlen <= 10 * n_words)        AS r_mean_wlen,
           (max_wlen <= 20)                      AS r_max_wlen,
           (10 * n_sym <= n_chars)               AS r_symbol_ratio,
           (10 * n_distinct >= 3 * n_words)      AS r_repetition,
           (n_words >= 5 AND sum_wlen >= 3 * n_words
            AND sum_wlen <= 10 * n_words AND max_wlen <= 20
            AND 10 * n_sym <= n_chars
            AND 10 * n_distinct >= 3 * n_words)  AS kept
    FROM m
    """,
)
def filter_quality_gate(spark, sf):
    """C4-family heuristic quality gate (Raffel et al. 2020, §2.2
    adapted to this corpus): a document passes only if it clears ALL
    rules — minimum word count, mean word length in [3, 10], no
    over-long token (> 20 chars), symbol ratio ≤ 10%, and a distinct/
    total token ratio ≥ 0.3 (boilerplate repetition).  Per-rule
    booleans are emitted alongside the verdict so a curation run can
    report WHY documents were dropped (the rejection-breakdown table
    every production filter job ships).

    Every threshold is an INTEGER cross-comparison (sum_wlen ≤
    10·n_words, 10·n_sym ≤ n_chars, ...) — no float ratio ever
    materializes, so engines cannot disagree at rule boundaries.

    Shape (100 TB posture): pure row-local codegen (HOF token metrics +
    integer compares), zero shuffle, composes with parquet pushdown on
    upstream predicates; the natural first stage of any curation DAG."""
    d = t(spark, sf, "documents")
    ws = F.expr("filter(split(trim(text), ' '), w -> w <> '')")
    m = d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        (F.length("text")
         - F.length(F.regexp_replace("text", "[^A-Za-z0-9 ]", ""))
         ).alias("n_sym"),
        F.size(ws).alias("n_words"),
        F.size(F.array_distinct(ws)).alias("n_distinct"),
        F.expr(
            "aggregate(filter(split(trim(text), ' '), w -> w <> ''),"
            " CAST(0 AS BIGINT), (acc, w) -> acc + length(w))"
        ).alias("sum_wlen"),
        F.expr(
            "array_max(transform(filter(split(trim(text), ' '),"
            " w -> w <> ''), w -> length(w)))"
        ).alias("max_wlen"),
    )
    r_min_words = F.col("n_words") >= 5
    r_mean_wlen = (F.col("sum_wlen") >= 3 * F.col("n_words")) & (
        F.col("sum_wlen") <= 10 * F.col("n_words"))
    r_max_wlen = F.col("max_wlen") <= 20
    r_symbol = 10 * F.col("n_sym") <= F.col("n_chars")
    r_rep = 10 * F.col("n_distinct") >= 3 * F.col("n_words")
    return m.select(
        "doc_id",
        F.col("n_words").cast("int").alias("n_words"),
        r_min_words.alias("r_min_words"),
        r_mean_wlen.alias("r_mean_wlen"),
        r_max_wlen.alias("r_max_wlen"),
        r_symbol.alias("r_symbol_ratio"),
        r_rep.alias("r_repetition"),
        (r_min_words & r_mean_wlen & r_max_wlen & r_symbol & r_rep)
        .alias("kept"),
    )


@q(
    "text_bigram_logprob",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split(trim(lower(text)), ' '),
                         w -> w <> '') AS ws
      FROM documents
    ),
    bgs AS (
      SELECT doc_id, unnest(list_transform(
               generate_series(2, len(ws)),
               i -> ws[i-1] || ' ' || ws[i])) AS bg
      FROM toks WHERE len(ws) >= 2
    ),
    uni AS (
      SELECT w, COUNT(*) AS c1
      FROM (SELECT unnest(ws) AS w FROM toks) GROUP BY w
    ),
    vocab AS (SELECT COUNT(*) AS v FROM uni),
    bgfreq AS (SELECT bg, COUNT(*) AS c2 FROM bgs GROUP BY bg),
    lp AS (
      SELECT bg,
             CAST(ROUND(ln((c2 + 1.0) / (c1 + v)) * 1000000) AS BIGINT)
               AS lp_fix
      FROM bgfreq
      JOIN uni ON string_split(bg, ' ')[1] = uni.w
      CROSS JOIN vocab
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_bigrams,
           CAST(SUM(lp_fix) AS DOUBLE) / 1000000.0 / COUNT(*)
             AS avg_logprob
    FROM bgs JOIN lp USING (bg)
    GROUP BY doc_id
    """,
)
def text_bigram_logprob(spark, sf):
    """CCNet-style LM quality score, one order up from
    ``text_unigram_logprob``: mean log P(wᵢ | wᵢ₋₁) under the corpus's
    own add-1-smoothed bigram model — P = (c(wᵢ₋₁wᵢ)+1)/(c(wᵢ₋₁)+V).
    Low scores surface shuffled/gibberish text that unigram frequency
    alone cannot catch (same words, impossible transitions) — the
    perplexity-bucket signal Wenzek et al. (CCNet, 2020) filter on.

    Cross-engine float parity: each bigram TYPE's log-prob is
    fixed-pointed to integer micro-nats ONCE (one double ln per type,
    identical in both engines), so the per-doc reduction is an exact
    int64 sum immune to aggregation order.

    Shape (100 TB posture): two corpus passes (bigram explode → count;
    re-attach per-type scores → per-doc agg), both map-side-combined
    hash aggs.  The score table is type-count-sized; it ships here via
    an equi-join on bg (AQE broadcasts it at this SF) — at real scale
    the standard trim is top-M bigrams + unigram backoff for the tail,
    which caps the table without changing this plan's shape.  Docs with
    fewer than two tokens have no bigrams and are absent from the
    output by definition (score undefined)."""
    d = t(spark, sf, "documents")
    toks = d.select(
        "doc_id",
        F.expr(
            "filter(split(trim(lower(text)), ' '), w -> w <> '')"
        ).alias("ws"),
    )
    bgs = toks.filter(F.size("ws") >= 2).select(
        "doc_id",
        F.explode(F.expr(
            "transform(sequence(2, size(ws)),"
            " i -> concat(element_at(ws, i - 1), ' ', element_at(ws, i)))"
        )).alias("bg"),
    )
    uni = toks.select(F.explode("ws").alias("w")).groupBy("w").agg(
        F.count("*").alias("c1"))
    vocab = uni.agg(F.count("*").alias("v"))
    bgfreq = bgs.groupBy("bg").agg(F.count("*").alias("c2"))
    lp = (
        bgfreq
        .join(uni, F.expr("split(bg, ' ')[0]") == F.col("w"))
        .crossJoin(F.broadcast(vocab))
        .select(
            "bg",
            F.round(
                F.log((F.col("c2") + 1.0) / (F.col("c1") + F.col("v")))
                * 1000000
            ).cast("long").alias("lp_fix"),
        )
    )
    return (
        bgs.join(lp, "bg")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            (F.sum("lp_fix").cast("double") / F.lit(1000000.0)
             / F.count("*")).alias("avg_logprob"),
        )
    )


@q(
    "text_dehyphenate",
    oracle="""
    SELECT doc_id,
           regexp_replace(regexp_replace(
             'pipe-' || chr(10) || 'lined ' || text ||
             ' frag-' || chr(10) || 'mentation of the TOP-' ||
             chr(10) || 'Secret file',
             '([a-z])-' || chr(10) || '([a-z])', '\\1\\2', 'g'),
             chr(10), ' ', 'g') AS text_clean
    FROM documents
    """,
)
def text_dehyphenate(spark, sf):
    """Line-break dehyphenation after PDF extraction: justified print
    layouts break words at line ends ('pipe-\\nlined'), and rejoining
    them is a standard main-content cleanup (Trafilatura/Grobid do the
    same) — without it token counts inflate and every hash-keyed dedup
    under-recalls on print-derived text.  Merge rule: lowercase letter,
    hyphen, newline, lowercase letter → drop the break; anything else
    (e.g. 'TOP-\\nSecret', a real compound across lines) keeps its
    hyphen and the newline becomes a space.  The hyphenated input is
    synthesized around the corpus text so the oracle reproduces it; the
    rejoin chain is the operator.

    100 TB shape: two regexp_replace calls inside whole-stage codegen —
    narrow map over the scan, no shuffle, no Python."""
    d = t(spark, sf, "documents")
    messy = F.concat(
        F.lit("pipe-\nlined "), F.col("text"),
        F.lit(" frag-\nmentation of the TOP-\nSecret file"))
    col = F.regexp_replace(messy, "([a-z])-\n([a-z])", "$1$2")
    col = F.regexp_replace(col, "\n", " ")
    return d.select("doc_id", col.alias("text_clean"))


def _bpe_round_sql(toks: str, rnd: int) -> str:
    """One BPE round as DuckDB CTEs over token-array CTE ``toks``:
    pair counts (x≠y only — see docstring), deterministic top-1 merge,
    greedy application.  Emits CTEs pairs{r}, m{r}, toks{r}."""
    return f"""
    pairs{rnd} AS (
      SELECT x, y, CAST(COUNT(*) AS BIGINT) AS n FROM (
        SELECT unnest(ws[1:len(ws)-1]) AS x, unnest(ws[2:len(ws)]) AS y
        FROM {toks}
      ) WHERE x <> y GROUP BY x, y
    ),
    m{rnd} AS (SELECT x, y, n FROM pairs{rnd} ORDER BY n DESC, x, y LIMIT 1),
    toks{rnd} AS (
      SELECT doc_id,
             list_transform(
               list_filter(generate_series(1, len(ws)),
                 i -> NOT (i >= 2 AND ws[i-1] = m.x AND ws[i] = m.y)),
               i -> CASE WHEN i < len(ws) AND ws[i] = m.x AND ws[i+1] = m.y
                         THEN m.x || '_' || m.y ELSE ws[i] END) AS ws
      FROM {toks} CROSS JOIN m{rnd} m
    )"""


@q(
    "vocab_bpe_apply",
    oracle=f"""
    WITH toks0 AS (
      SELECT doc_id, string_split(trim(text), ' ') AS ws FROM documents
    ),
    {_bpe_round_sql('toks0', 1)},
    {_bpe_round_sql('toks1', 2)}
    SELECT 1 AS merge_round, x, y, n AS n_pair,
           (SELECT CAST(SUM(len(ws)) AS BIGINT) FROM toks1) AS n_tokens_after
    FROM m1
    UNION ALL
    SELECT 2, x, y, n,
           (SELECT CAST(SUM(len(ws)) AS BIGINT) FROM toks2)
    FROM m2
    """,
)
def vocab_bpe_apply(spark, sf):
    """Two unrolled rounds of BPE training: select the corpus-wide most
    frequent adjacent token pair (deterministic (n DESC, x, y) rank),
    MERGE every occurrence in every document, and repeat on the merged
    corpus — the apply half that vocab_top_bigram_merges (selection
    only) leaves out.  Merges are restricted to x≠y pairs so greedy
    leftmost application has no overlapping-match ambiguity (for x=y,
    runs like "a a a" make greedy order semantics engine-specific;
    real BPE handles runs with sequential state — documented subset).

    Shape (100 TB posture): per round, ONE map-side-combined pair-count
    agg + a driver-merged top-1 (TakeOrderedAndProject, the model-fit
    collect pattern of fit_centroids_kmeans — 1 row no matter the
    corpus), then the merge applies as pure JVM HOF array surgery in a
    narrow map over the corpus (zero shuffle).  K merge rounds = K such
    passes; production BPE batches non-conflicting merges per pass to
    cut rounds."""
    d = t(spark, sf, "documents")
    cur = d.select("doc_id", F.split(F.trim("text"), " ").alias("ws"))
    out_rows = []
    for rnd in (1, 2):
        sz = F.size("ws")
        pairs = (
            cur.select(
                F.explode(
                    F.arrays_zip(
                        F.slice("ws", 1, sz - 1).alias("x"),
                        F.expr("slice(ws, 2, size(ws) - 1)").alias("y"),
                    )
                ).alias("p")
            )
            .select(F.col("p.x").alias("x"), F.col("p.y").alias("y"))
            .filter(F.col("x") != F.col("y"))
            .groupBy("x", "y").agg(F.count("*").alias("n"))
        )
        top = pairs.orderBy(F.desc("n"), "x", "y").first()  # 1-row fit
        xl, yl = F.lit(top["x"]), F.lit(top["y"])
        ws = F.col("ws")
        kept = F.filter(
            F.sequence(F.lit(1), sz),
            lambda i: ~(
                (i >= 2)
                & (F.element_at(ws, i - 1) == xl)
                & (F.element_at(ws, i) == yl)
            ),
        )
        merged = F.transform(
            kept,
            lambda i: F.when(
                (i < sz)
                & (F.element_at(ws, i) == xl)
                & (F.element_at(ws, (i + 1).cast("int")) == yl),
                F.concat(xl, F.lit("_"), yl),
            ).otherwise(F.element_at(ws, i)),
        )
        cur = cur.select("doc_id", merged.alias("ws"))
        n_after = cur.agg(F.sum(F.size("ws"))).first()[0]  # 1-row agg
        out_rows.append((rnd, top["x"], top["y"], int(top["n"]), int(n_after)))
    return spark.createDataFrame(
        out_rows,
        "merge_round int, x string, y string, n_pair bigint, "
        "n_tokens_after bigint",
    )


@q(
    "sample_fixed_k",
    oracle="""
    SELECT doc_id, source FROM documents
    ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT 100
    """,
)
def sample_fixed_k(spark, sf):
    """Exactly-k uniform sample without RNG state: order by a portable
    content hash (md5 of the key — uniform, seedless, identical in both
    engines) and take the first k.  Unlike Bernoulli hash-threshold
    sampling (sample_deterministic), the output size is exactly k
    regardless of corpus size — the distributed stand-in for reservoir
    sampling, and like it, partitioning-invariant.

    Shape (100 TB posture): Spark plans ORDER BY + LIMIT k as
    TakeOrderedAndProject — a per-partition k-row heap + driver merge of
    #partitions·k rows, never a global sort; the hash is computed in
    codegen on a pruned 2-column scan."""
    return (
        t(spark, sf, "documents")
        .select("doc_id", "source")
        .orderBy(F.expr("md5(CAST(doc_id AS STRING))"), "doc_id")
        .limit(100)
    )


@q(
    "sample_balanced_classes",
    oracle="""
    WITH m AS (
      SELECT MIN(cnt) AS mn FROM (
        SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang
      )
    ),
    ranked AS (
      SELECT doc_id, lang,
             row_number() OVER (PARTITION BY lang
                                ORDER BY md5(CAST(doc_id AS VARCHAR)),
                                         doc_id) AS rk
      FROM documents
    )
    SELECT doc_id, lang FROM ranked, m WHERE rk <= m.mn
    """,
)
def sample_balanced_classes(spark, sf):
    """Class-balanced downsampling: every language keeps exactly
    min-class-count documents, chosen by portable hash order (md5 of
    the key — seedless, partitioning-invariant, identical in both
    engines) — the classic imbalance fix before training a classifier,
    and the language-rebalancing step of multilingual corpus mixes.
    Exact equal counts, unlike fraction-based sampleBy which is only
    balanced in expectation.

    Shape (100 TB posture): the per-class quota is a two-level agg
    collapsing to ONE broadcast row; the per-class rank is a window
    over lang — with few classes that key is skewed, so production
    replaces row_number with the per-class hash-threshold prefilter
    (keep md5 < adaptive cut ≈ quota/cnt quantile, see
    sample_cap_per_source) and only ranks the ~quota survivors;
    documented here, exact window semantics kept for the oracle."""
    d = t(spark, sf, "documents").select("doc_id", "lang")
    mn = (
        d.groupBy("lang").agg(F.count("*").alias("cnt"))
        .agg(F.min("cnt").alias("mn"))
    )
    w = W.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        d.select("doc_id", "lang", F.row_number().over(w).alias("rk"))
        .join(F.broadcast(mn), F.col("rk") <= F.col("mn"), "inner")
        .select("doc_id", "lang")
    )


@q(
    "snapshot_diff",
    oracle="""
    WITH snap_b AS (
      SELECT doc_id,
             CASE WHEN doc_id % 11 = 0 THEN text || ' [edited]'
                  ELSE text END AS text
      FROM documents WHERE doc_id % 13 <> 0
      UNION ALL
      SELECT doc_id + 9000000, text FROM documents WHERE doc_id % 17 = 0
    ),
    a AS (SELECT doc_id, md5(text) AS h FROM documents),
    b AS (SELECT doc_id, md5(text) AS h FROM snap_b)
    SELECT COALESCE(a.doc_id, b.doc_id) AS doc_id,
           CASE WHEN a.doc_id IS NULL THEN 'added'
                WHEN b.doc_id IS NULL THEN 'removed'
                ELSE 'changed' END AS change
    FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
    WHERE a.doc_id IS NULL OR b.doc_id IS NULL OR a.h <> b.h
    """,
)
def snapshot_diff(spark, sf):
    """Table-snapshot diff — the regression gate between two pipeline
    runs (and the audit view behind Iceberg snapshot compare): rows
    added, removed, or content-changed between snapshot A (the raw
    table) and a deterministically perturbed snapshot B (every 11th
    doc edited, every 13th dropped, every 17th re-added under a new
    id).  Unchanged rows — the overwhelming mass in a real diff —
    never leave the join.

    Shape (100 TB posture): each side is reduced IN THE SCAN to
    (key, md5(content)) — 2 slim columns ride the one FULL OUTER
    shuffle, never document bodies; the change classifier and the
    unchanged-row filter run in codegen post-join.  On bucketed/
    Iceberg tables the shuffle disappears entirely (both snapshots
    inherit the same key layout), and Iceberg's own snapshot manifests
    prune untouched files before the scan."""
    d = t(spark, sf, "documents")
    b = (
        d.filter(F.col("doc_id") % 13 != 0)
        .select(
            "doc_id",
            F.when(F.col("doc_id") % 11 == 0,
                   F.concat(F.col("text"), F.lit(" [edited]")))
            .otherwise(F.col("text")).alias("text"))
        .unionByName(
            d.filter(F.col("doc_id") % 17 == 0)
            .select((F.col("doc_id") + 9000000).alias("doc_id"), "text"))
    )
    a_h = d.select("doc_id", F.md5("text").alias("h"))
    b_h = b.select(F.col("doc_id").alias("b_id"), F.md5("text").alias("bh"))
    j = a_h.join(b_h, a_h.doc_id == b_h.b_id, "full_outer")
    return (
        j.filter(F.col("doc_id").isNull() | F.col("b_id").isNull()
                 | (F.col("h") != F.col("bh")))
        .select(
            F.coalesce("doc_id", "b_id").alias("doc_id"),
            F.when(F.col("doc_id").isNull(), "added")
            .when(F.col("b_id").isNull(), "removed")
            .otherwise("changed").alias("change"),
        )
    )


@q(
    "sample_temperature",
    oracle=f"""
    WITH c AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_src
      FROM documents GROUP BY source
    ), m AS (
      SELECT source, n_src, MIN(n_src) OVER () AS n_min FROM c
    )
    SELECT d.doc_id, d.source
    FROM documents d JOIN m USING (source)
    WHERE CAST({_H4_SQL} AS BIGINT) * CAST({_H4_SQL} AS BIGINT) * n_src
          < n_min * 4294967296
    """,
)
def sample_temperature(spark, sf):
    """Temperature-based source rebalancing (the mC4/mT5 α-power mix,
    α = 0.5): each source's keep-rate is sqrt(n_min / n_src), so the
    rarest source passes whole and every larger source is thinned
    toward the α-flattened distribution — the standard fix for a
    web-scale corpus where one domain would otherwise drown the rest.

    The accept test h/65536 < sqrt(n_min/n_src) is evaluated in PURE
    INTEGER form (h²·n_src < n_min·65536²), so there is no sqrt/float
    boundary for engines to disagree on; h is the same portable md5
    uniform as sample_deterministic, making every doc's fate a pure
    function of (doc_id, source counts) — reproducible across runs,
    partitionings, and engines.

    100 TB shape: one tiny per-source count agg (|sources| rows) with
    its global MIN taken by a window over that same small frame —
    single plan, no collect — broadcast back onto the corpus scan, then
    a stateless codegen filter.  No corpus shuffle at any point; at
    whale scale n_src·h² needs 128-bit math (decimal(38,0)) once a
    source exceeds 2^31 docs, noted here because the int64 form is the
    fast path below that."""
    d = t(spark, sf, "documents")
    counts = (
        d.groupBy("source")
        .agg(F.count("*").alias("n_src"))
        .withColumn("n_min", F.min("n_src").over(W.partitionBy()))
    )
    h = F.expr(_H4)
    return (
        d.join(F.broadcast(counts), "source")
        .filter(h * h * F.col("n_src") < F.col("n_min") * F.lit(4294967296))
        .select("doc_id", "source")
    )
