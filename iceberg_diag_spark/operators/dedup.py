"""Deduplication operators over document corpora.

Scale posture (100 TB): every variant reduces to hash → shuffle on the
hash → per-bucket work, which is the canonical scalable shape: the
shuffle key is uniformly distributed (cryptographic / minhash values),
so no salting is needed; map-side combine collapses duplicates early.
No driver-side state anywhere.

Operators:
- exact_dedup_groups / exact_dedup: content-hash exact dedup (sha256
  of normalized text).
- minhash_signatures / minhash_candidate_pairs: MinHash + LSH banding
  near-dup. Hashes are md5-hex (computable identically in any SQL
  engine → DuckDB-oracle checkable, unlike engine-private hash fns).
- simhash64: 64-bit SimHash over word unigrams via bit-vote
  aggregation, plus hamming-distance candidate pairing.
- ngram_jaccard_pairs: exact n-gram Jaccard similarity for candidate
  verification.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from iceberg_diag_spark.functions.parallel import ensure_parallelism

# MinHash signature width shared by every operator that builds or
# bands signatures: a precomputed ``wide`` relation only matches
# minhash_candidate_pairs' banding layout at the same width.
DEFAULT_NUM_HASHES = 16


def normalized_text(col: Column) -> Column:
    """Canonical text form shared by all dedup ops: lowercase, trim,
    collapse whitespace runs."""
    return F.regexp_replace(F.lower(F.trim(col)), r"\s+", " ")


def exact_dedup_groups(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Group identical (normalized) texts: one row per distinct
    content hash with the surviving (minimum) id and duplicate count.

    One shuffle on sha256 — uniform key, no skew. At 100 TB, text
    leaves the scan only as its hash (project-then-shuffle), so
    shuffle volume is ~32B/row regardless of document size.
    """
    h = F.sha2(normalized_text(F.col(text_col)), 256)
    return (
        ensure_parallelism(docs)
        .select(h.alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(
            F.count("*").alias("dup_count"),
            F.min(id_col).alias("keep_doc_id"),
        )
    )


def exact_dedup(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Return the de-duplicated corpus (first id per content hash
    survives). Window-free formulation: aggregate keeps the shuffle
    at hash granularity; the join back is on the uniform id key."""
    keep = exact_dedup_groups(docs, text_col, id_col).select(
        F.col("keep_doc_id").alias(id_col)
    )
    return docs.join(keep, id_col, "semi")


def collapse_exact_duplicates(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> tuple[DataFrame, DataFrame]:
    """Exact-duplicate pre-collapse for the fuzzy-dedup family:
    returns (representatives, star_edges) where representatives is
    one surviving row per distinct normalized text (minimum id — the
    exact_dedup contract) and star_edges is one (doc_a=rep,
    doc_b=member) row per collapsed duplicate.

    WHY this exists: LSH bucketing distributes near-identical docs
    into small buckets, but byte-identical docs land in the SAME
    bucket in EVERY band — a corpus with millions of exact copies of
    one page (boilerplate 404s, mirrored licenses) turns that bucket
    into an n² pair expansion no banding scheme can save. Collapsing
    exact dups first bounds every bucket to genuinely-near-identical
    representatives, and the star edges (k-1 rows per k-dup group,
    not k(k-1)/2) keep the collapsed members reachable: downstream
    connected components place members in their representative's
    cluster transitively.

    Cost: one window shuffle on the uniform 32-byte content hash —
    the same project-then-shuffle shape as exact_dedup (text never
    shuffles, only its hash). The (id, keeper) relation is
    localCheckpointed (16 B/doc — the simhash fingerprint idiom):
    both consumers (the representative semi-join and the star-edge
    projection) read the materialized partitions, so the text scan +
    sha256 + window pass runs ONCE even though Catalyst shares no
    subtree between them.

    NOTE the semi join here shuffles the full doc rows (text
    included) by id — acceptable when the caller genuinely needs
    representative TEXT downstream. The near-dup entry points do
    not: they consume only narrow derived relations (fingerprints /
    signatures), so they use content_rep_marks directly and filter
    those relations instead — text never leaves the scan."""
    marked = content_rep_marks(docs, text_col, id_col)
    reps = docs.join(
        marked.filter(F.col(id_col) == F.col("__keep")).select(id_col),
        id_col,
        "semi",
    )
    star = marked.filter(F.col(id_col) != F.col("__keep")).select(
        F.col("__keep").alias("doc_a"), F.col(id_col).alias("doc_b")
    )
    return reps, star


def content_rep_marks(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """The narrow exact-duplicate mark relation: (id_col, __ch,
    __keep) — each doc's normalized content hash and the minimum id
    sharing that hash (its exact-dup representative; __keep == id
    for survivors). One projection (text → 32-byte hash, zero text
    movement) + one window shuffle on the uniform hash key, then
    localCheckpointed (~48 B/doc) because every consumer reads it at
    least twice (rep filter + star edges)."""
    from pyspark.sql import Window

    hashed = ensure_parallelism(docs).select(
        F.col(id_col),
        F.sha2(normalized_text(F.col(text_col)), 256).alias("__ch"),
    )
    return hashed.withColumn(
        "__keep", F.min(id_col).over(Window.partitionBy("__ch"))
    ).localCheckpoint()


def word_ngrams(col: Column, n: int = 3) -> Column:
    """Word n-gram shingles of the normalized text as an array of
    strings (distinct). Built-ins only: split → transform over a
    sliding index range → array_distinct.

    NOTE: higher-order array functions run interpreted (outside
    whole-stage codegen) — fine for occasional use, but hot paths
    should use word_ngram_rows instead (~10× cheaper, measured)."""
    toks = F.split(normalized_text(col), " ")
    cnt = F.size(toks)
    idx = F.sequence(F.lit(0), F.greatest(cnt - n, F.lit(0)))
    grams = F.transform(
        idx, lambda i: F.concat_ws(" ", F.slice(toks, i + 1, n))
    )
    return F.array_distinct(F.when(cnt >= n, grams).otherwise(F.array()))


def word_ngram_rows(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id", n: int = 3
) -> DataFrame:
    """Exploded (id, gram) n-gram rows — the hot-path shingle source.

    Shuffle-free: explode a start-index range per doc and slice the
    token array positionally (`toks[i + k]` — GetArrayItem, plain
    codegen exprs end to end; the transform()/higher-order route runs
    interpreted and measured ~10× slower, and the earlier
    posexplode + window-lead() route paid a full shuffle+sort of
    every TOKEN row on the doc key just to see gram neighbors). The
    generate + projection fuse into the scan stage, so grams are
    born map-side and downstream aggregations (MinHash min-agg,
    gram counts) partial-aggregate before anything crosses the wire
    — the exchange carries per-doc/per-gram aggregate rows, never
    token rows. Docs with fewer than n tokens emit nothing. Grams
    are NOT deduplicated — min-aggregation (MinHash) is
    duplicate-insensitive, and set consumers dedup in their own
    aggregation. Output: (id_col, gram).
    """
    toks = F.split(normalized_text(F.col(text_col)), " ")
    base = ensure_parallelism(docs).select(
        F.col(id_col), toks.alias("__toks")
    )
    starts = F.when(
        F.size("__toks") >= n,
        F.sequence(F.lit(0), F.size("__toks") - n),
    ).otherwise(F.expr("array()"))
    gram = F.concat_ws(
        " ", *[F.expr(f"__toks[__i + {k}]") for k in range(n)]
    )
    return base.select(
        F.col(id_col), "__toks", F.explode(starts).alias("__i")
    ).select(F.col(id_col), gram.alias("gram"))


def minhash_signatures_wide(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    ngram: int = 3,
) -> DataFrame:
    """Per-document MinHash signature, one column per seed, via the
    Carter-Wegman trick: ONE md5 per shingle split into two 32-bit
    ints (h1, h2), then hash-family member s is (h1 + s*h2) mod 2^32.
    Output: (doc_id, h0..h{n-1}) as longs.

    Shape matters at scale twice over: (a) ONE groupBy(doc_id) with
    num_hashes min-aggregates — the shuffle carries one row per
    (doc, shingle), NOT per (doc, shingle, seed), and map-side combine
    collapses it to one row per doc per task before the exchange;
    (b) hashing cost is one md5 + 2 hex-parses per shingle instead of
    num_hashes md5s (measured ~4× on the sf0.1 corpus). The whole
    scheme is plain integer arithmetic on md5 hex — bit-identical in
    DuckDB ('0x'||substr)::BIGINT — so the oracle still hash-matches.
    """
    exploded = word_ngram_rows(docs, text_col, id_col, ngram).select(
        F.col(id_col), *_md5_halves_exprs("gram", "g1", "g2")
    )
    return exploded.groupBy(id_col).agg(*_minhash_agg_exprs(num_hashes))


def minhash_signatures(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    ngram: int = 3,
) -> DataFrame:
    """Long-form signature view (doc_id, seed, minhash) — an unpivot
    of the wide aggregation (kept for API parity / inspection)."""
    wide = minhash_signatures_wide(docs, text_col, id_col, num_hashes, ngram)
    pairs = F.array(
        *[
            F.struct(F.lit(s).alias("seed"), F.col(f"h{s}").alias("minhash"))
            for s in range(num_hashes)
        ]
    )
    return wide.select(F.col(id_col), F.explode(pairs).alias("p")).select(
        id_col, "p.seed", "p.minhash"
    )


def _hash_sig_wide(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    ngram: int = 3,
) -> DataFrame:
    """ONE text scan → (id_col, __ch, h0..h{n-1}): the normalized
    content hash AND the wide MinHash signature of every document.
    Fuses the two passes incremental dedup needs (exact-hash tier +
    LSH-band tier) so each side's text is scanned, normalized and
    tokenized once instead of once per tier.

    Docs with fewer than `ngram` tokens have no shingles; the
    plain signature pipeline drops them (word_ngram_rows emits
    nothing), but the hash tier must keep them, so a single sentinel
    row (__i = -1, NULL gram) rides the explode for those docs: the
    min-aggregates over its NULL hashes leave h* NULL, which marks
    the doc gramless (filter h0 IS NOT NULL before banding — NULL
    never concatenates into a shared band key by accident). The
    content hash rides the explode as an extra GROUP KEY (constant
    per doc, so the groups are still exactly one per doc): a
    min(string) aggregate would give the buffer a variable-width
    attribute and knock the plan off HashAggregateExec onto a
    SortAggregate over every gram row, while extra keys keep the
    buffer all-long (hash agg + map-side partial combine).
    """
    norm = normalized_text(F.col(text_col))
    toks = F.split(norm, " ")
    base = ensure_parallelism(docs).select(
        F.col(id_col),
        F.sha2(norm, 256).alias("__ch"),
        toks.alias("__toks"),
    )
    starts = F.when(
        F.size("__toks") >= ngram,
        F.sequence(F.lit(0), F.size("__toks") - ngram),
    ).otherwise(F.array(F.lit(-1)))
    gram_sql = "concat_ws(' ', {})".format(
        ", ".join(f"__toks[__i + {k}]" for k in range(ngram))
    )
    exploded = (
        base.select(
            F.col(id_col), "__ch", "__toks", F.explode(starts).alias("__i")
        )
        .select(
            F.col(id_col),
            "__ch",
            F.expr(
                f"CASE WHEN __i >= 0 THEN {gram_sql} END"
            ).alias("gram"),
        )
        .select(F.col(id_col), "__ch", *_md5_halves_exprs("gram", "g1", "g2"))
    )
    return exploded.groupBy(id_col, "__ch").agg(
        *_minhash_agg_exprs(num_hashes)
    )


def _fused_wide_and_marks(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    ngram: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """(wide signature, exact-dup marks) carved off ONE checkpointed
    _hash_sig_wide pass — the shared shape of every operator that
    needs both the MinHash signatures and the (id, __keep) mark
    relation (candidate banding, the agreement/estimator audits, the
    tuned-banding chain). `wide` excludes gramless docs exactly as
    minhash_signatures_wide never emits them; `marked` is the
    content_rep_marks window over the fused (id, __ch), checkpointed
    because every consumer reads it at least twice (star + keep)."""
    fused = _hash_sig_wide(
        docs, text_col, id_col, num_hashes, ngram
    ).localCheckpoint(eager=False)
    wide = fused.filter(F.col("h0").isNotNull()).select(
        F.col(id_col), *[f"h{s}" for s in range(num_hashes)]
    )
    return wide, _marks_from_ch(fused, id_col)


def _marks_from_ch(fused: DataFrame, id_col: str) -> DataFrame:
    """content_rep_marks' (id, __keep) window over an
    already-materialized (id, __ch, ...) relation — the marks half of
    every fused-pass consumer, checkpointed because star + keep both
    read it."""
    from pyspark.sql import Window

    w_ch = Window.partitionBy("__ch")
    return (
        fused.select(id_col, "__ch")
        .select(F.col(id_col), F.min(id_col).over(w_ch).alias("__keep"))
        .localCheckpoint(eager=False)
    )


def minhash_band_keys(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = 4,
    ngram: int = 3,
    wide: DataFrame | None = None,
) -> DataFrame:
    """LSH band keys per document: the wide signature split into
    `bands` bands of consecutive seeds, each concatenated into one
    bucket key. The shared building block of candidate-pair banding
    (self-bucketing) and incremental dedup (semi-join of a new
    batch's keys against a corpus's keys). Pass `wide` (a
    minhash_signatures_wide relation, typically checkpointed) to
    share ONE signature pass across several consumers — the shingle
    explode + hash + min-aggregate is the expensive stage, and
    cross-branch lineage replays it per consumer otherwise.
    Output: (id_col, band, band_key) — `bands` rows per doc."""
    rows_per_band = num_hashes // bands
    if wide is None:
        wide = minhash_signatures_wide(
            docs, text_col, id_col, num_hashes, ngram
        )
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.concat_ws(
                    "|",
                    *[F.col(f"h{b * rows_per_band + i}") for i in range(rows_per_band)],
                ).alias("band_key"),
            )
            for b in range(bands)
        ]
    )
    return wide.select(F.col(id_col), F.explode(band_structs).alias("b")).select(
        id_col, "b.band", "b.band_key"
    )


def _bucket_pairs(band_keys: DataFrame, id_col: str) -> DataFrame:
    """Shared bucket → candidate-pair expansion: group (band,
    band_key) buckets, emit all ordered in-bucket pairs via the
    row-local slice/transform explode (never a band-key self-join —
    the signature pipeline is evaluated once), count shared bands per
    pair. Bucket contents are near-identical docs only (exact dups
    pre-collapsed by the callers), so the expansion is linear in true
    near-dups. Output: (doc_a, doc_b, n_shared_bands)."""
    buckets = (
        band_keys.groupBy("band", "band_key")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (x, i) -> "
                "transform(slice(ids, i + 2, size(ids)), "
                "y -> struct(x AS doc_a, y AS doc_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    return pairs.groupBy("doc_a", "doc_b").agg(
        F.count("*").alias("n_shared_bands")
    )


def minhash_candidate_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    bands: int = 4,
    ngram: int = 3,
    collapse_exact: bool = True,
    wide: DataFrame | None = None,
    marked: DataFrame | None = None,
) -> DataFrame:
    """LSH banding: split the signature into `bands` bands of
    num_hashes/bands consecutive seeds, concatenate each band into a
    bucket key, group docs by (band, bucket), and emit all in-bucket
    pairs. Output: candidate (doc_a, doc_b, n_shared_bands) pairs
    with doc_a < doc_b.

    Shape: bucket-grouping + in-bucket pair expansion instead of a
    band-key self-join — the signature pipeline (the expensive part:
    shingle explode + hash + 16-way min-agg) is evaluated ONCE, not
    once per join side, and the only shuffles after it are on the
    uniformly-distributed bucket key and the pair key. Bucket
    contents are near-identical documents only, so the pair expansion
    is linear in true near-dups.

    With collapse_exact (default), byte-identical documents are
    collapsed to their min-id representative BEFORE banding — the
    pathology where millions of exact copies share one bucket in
    every band can't occur; each exact-dup group surfaces as (rep,
    member) star pairs with n_shared_bands = `bands` (an exact copy
    trivially shares every band). Pairs between a collapsed member
    and its rep's near-dups are reachable transitively through the
    rep — the contract connected-components consumers rely on.

    Collapse mechanics (100 TB shape): the mark relation is narrow
    (content_rep_marks, ~48 B/doc) and the collapse filters the
    derived BAND-KEY relation via a semi join on the uniform id key
    — full doc rows (text) never shuffle. Signatures are still
    computed per input doc (linear map-side work on duplicate
    copies; duplicate signatures merge in the banding aggregate),
    which trades bounded extra CPU for never moving the corpus —
    the right side of the trade once text is TB-scale. Set
    collapse_exact=False only when the input is already
    exact-deduped (corpus_curation does its own collapse upstream).
    """
    star = None
    keep_ids = None
    if collapse_exact:
        # `marked` lets a caller that already materialized the
        # (id, __keep) exact-dup mark relation (the funnel derives it
        # from its enriched checkpoint's content hash) share it,
        # skipping content_rep_marks' own corpus scan + window pass.
        if marked is None and wide is None:
            # self-derived path: ONE fused text pass (_hash_sig_wide)
            # yields both the signature (wide) and the content hash
            # the marks window needs — previously two text scans
            # (content_rep_marks + the signature pipeline).
            wide, marked = _fused_wide_and_marks(
                docs, text_col, id_col, num_hashes, ngram
            )
        elif marked is None:
            marked = content_rep_marks(docs, text_col, id_col)
        star = marked.filter(F.col(id_col) != F.col("__keep")).select(
            F.col("__keep").alias("doc_a"), F.col(id_col).alias("doc_b")
        )
        keep_ids = marked.filter(
            F.col(id_col) == F.col("__keep")
        ).select(id_col)
    band_keys = minhash_band_keys(
        docs, text_col, id_col, num_hashes, bands, ngram, wide=wide
    )
    if keep_ids is not None:
        band_keys = band_keys.join(keep_ids, id_col, "semi")
    out = _bucket_pairs(band_keys, id_col)
    if star is not None:
        out = out.unionByName(
            star.select(
                "doc_a",
                "doc_b",
                F.lit(bands).cast("long").alias("n_shared_bands"),
            )
        )
    return out


def incremental_dedup_status(
    batch: DataFrame,
    corpus: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Incremental-ingestion dedup: classify every document of an
    incoming `batch` against an existing `corpus` as 'exact' (its
    normalized content hash already exists in the corpus), 'near_dup'
    (it shares at least one MinHash-LSH band bucket with a corpus
    doc), or 'novel'. The daily-crawl-drop gate: a pipeline that
    re-deduplicates the full corpus on every ingest does O(corpus)
    work per batch; this does O(batch) + a hash/band lookup against
    relations a real deployment keeps precomputed.

    Scale shape: both checks are SEMI joins — existence tests, never
    pair expansions, so a batch doc matching a million corpus docs
    still costs one probe row. Exact: batch hashes semi-join distinct
    corpus hashes (32 B/row, uniform). Near: batch band keys
    semi-join corpus band keys (`bands` rows/doc each side, uniform
    band-key shuffle); no exact pre-collapse is needed because semi
    joins are bounded by construction. Exact takes precedence over
    near (an exact copy trivially shares all bands).

    Output: (id_col, status) — one row per batch doc.
    """
    # BOTH tiers' per-doc state (content hash + wide signature) comes
    # from ONE fused text scan per side (_hash_sig_wide), checkpointed
    # (~200 B/doc) because each side feeds two consumers (hash probe /
    # id spine and band keys) and lineage would replay the scan +
    # shingle explode + min-aggregate per consumer. Before the fusion
    # each side's text was scanned and normalized twice (hash pass +
    # signature pass).
    bs = _hash_sig_wide(batch, text_col, id_col).localCheckpoint(
        eager=False
    )
    cs = _hash_sig_wide(corpus, text_col, id_col).localCheckpoint(
        eager=False
    )
    corpus_hashes = cs.select("__ch").distinct()
    exact_ids = (
        bs.select(id_col, "__ch")
        .join(corpus_hashes, "__ch", "semi")
        .select(id_col, F.lit(True).alias("is_exact"))
    )
    # gramless docs (h* NULL) carry no band keys — same contract as
    # the plain signature pipeline, which never emits them.
    bkeys = minhash_band_keys(
        batch, text_col, id_col, wide=bs.filter(F.col("h0").isNotNull())
    )
    ckeys = minhash_band_keys(
        corpus, text_col, id_col, wide=cs.filter(F.col("h0").isNotNull())
    ).select("band", "band_key")
    near_ids = (
        bkeys.join(ckeys, ["band", "band_key"], "semi")
        .select(id_col)
        .distinct()
        .withColumn("is_near", F.lit(True))
    )
    return (
        # id spine from the checkpointed fused relation — reading
        # `batch` again here would re-scan the batch text for rows
        # the fused pass already carries (one per doc, sentinel
        # included).
        bs.select(id_col)
        .join(exact_ids, id_col, "left")
        .join(near_ids, id_col, "left")
        .select(
            F.col(id_col),
            F.when(F.col("is_exact"), F.lit("exact"))
            .when(F.col("is_near"), F.lit("near_dup"))
            .otherwise(F.lit("novel"))
            .alias("status"),
        )
    )


def dup_ngram_span_stats(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """Per-document duplicated-substring signal: the fraction of a
    doc's n-gram positions whose n-gram also appears in at least
    `min_docs` distinct documents. The cross-document substring-
    duplication measurement behind suffix-array training-data dedup
    (memorization risk scales with verbatim span repetition, so docs
    with a high duplicated-span share are dropped or trimmed before
    training) — this is the detection/audit half, computed with plain
    relational ops instead of a suffix array: position-multiplicity
    n-gram rows, a distinct-doc count per gram, and a join back.

    Scale shape: the gram relation is one row per token position
    (linear in corpus tokens) keyed by a uniform 32-hex md5 — two
    shuffles on that key (distinct-doc agg, then the flag join; both
    map-side combinable) plus the per-doc rollup. The duplicated-gram
    relation's size is data-dependent, so no broadcast hint — AQE
    decides. Docs with fewer than n tokens have no n-gram positions
    and do not appear (mirrored by the oracle).

    Output: (doc_id, n_grams, n_dup_grams, dup_ppm) — dup_ppm the
    floor parts-per-million of positions covered by cross-doc
    repeated grams (exact integer, cross-engine comparable).
    """
    grams = word_ngram_rows(docs, text_col, id_col, n).select(
        F.col(id_col), F.md5(F.col("gram")).alias("gh")
    )
    dup = (
        grams.groupBy("gh")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gh", F.lit(True).alias("is_dup"))
    )
    return (
        grams.join(dup, "gh", "left")
        .groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.count("is_dup").alias("n_dup_grams"),
        )
        .select(
            F.col(id_col),
            "n_grams",
            "n_dup_grams",
            F.floor(
                F.lit(1_000_000.0) * F.col("n_dup_grams") / F.col("n_grams")
            )
            .cast("long")
            .alias("dup_ppm"),
        )
    )


def winnow_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    window: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (the MOSS scheme): hash every
    word n-gram, slide a window of `window` consecutive gram hashes,
    and keep the minimum hash of each full window. Winnowing's
    guarantee: any shared substring of at least n + window - 1 tokens
    between two documents yields at least one shared fingerprint,
    while storing ~2/(window+1) of the gram hashes — the standard
    position-robust alternative to full n-gram inverted indexes for
    plagiarism/overlap detection.

    The fingerprint SET is order-insensitive, so the per-doc digest
    uses the same O(1)-state commutative checksum idiom as the
    split audit (count + bit_xor of the 60-bit hashes) — nothing
    per-doc ever materializes an array. Hash = first 15 md5 hex
    digits of the gram (non-negative 60-bit BIGINT in every engine).

    Execution: posexplode + lead() builds positioned gram hashes in
    whole-stage codegen (one shuffle+sort per doc key); the window
    min is a bounded ROWS frame over that same sort (no second
    shuffle); distinct + rollup ride the doc key too. Docs with
    fewer than n + window - 1 tokens have no full window and drop
    out (mirrored by the oracle).

    Output: (doc_id, n_fingerprints, fp_xor).
    """
    selected = _winnow_selected(docs, text_col, id_col, n, window)
    return selected.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_fingerprints"),
        F.bit_xor("fp").alias("fp_xor"),
    )


def _winnow_selected(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    window: int = 4,
) -> DataFrame:
    """The distinct (id, fp) winnowing-fingerprint relation shared by
    winnow_fingerprints (per-doc digest) and winnow_clone_pairs
    (cross-doc join).

    Shuffle-free gram construction (the word_ngram_rows idiom): grams
    come from positional slices of the per-doc token array instead of
    a posexplode + window-lead reconstruction, so no token row ever
    crosses an exchange. The sliding window min is a second map-side
    explode — each gram hash fans out to the ≤ `window` full windows
    it participates in (a window START index i picks up gram j iff
    i ≤ j ≤ i + window − 1), and groupBy(id, window-start) takes the
    min. Every window's w rows are produced consecutively inside one
    task, so the partial aggregate collapses them before the exchange
    — the shuffle carries one 24-byte row per full window, versus the
    old plan's every-token-row shuffle + sort + two window passes.
    Docs with fewer than window full grams emit nothing (the old
    count-==-window filter, now enforced by the guarded index range).
    """
    toks = F.split(normalized_text(F.col(text_col)), " ")
    base = ensure_parallelism(docs).select(
        F.col(id_col), toks.alias("__toks")
    )
    # gram count G = size - n + 1; only docs with G >= window have a
    # full window (sequence() must be guarded: a descending range
    # would fabricate rows)
    g_last = F.size("__toks") - n  # last gram start, G - 1
    starts = F.when(
        g_last - window + 1 >= 0, F.sequence(F.lit(0), g_last)
    ).otherwise(F.expr("array()"))
    gram = F.concat_ws(
        " ", *[F.expr(f"__toks[__j + {k}]") for k in range(n)]
    )
    gram_hash = F.conv(
        F.substring(F.md5(gram), 1, 15), 16, 10
    ).cast("long")
    fanout = F.sequence(
        F.greatest(F.col("__j") - window + 1, F.lit(0)),
        F.least(F.col("__j"), F.col("__lw")),
    )
    return (
        base.select(
            F.col(id_col),
            "__toks",
            (g_last - window + 1).alias("__lw"),  # last full-window start
            F.explode(starts).alias("__j"),
        )
        .select(
            F.col(id_col),
            gram_hash.alias("__gh"),
            F.explode(fanout).alias("__i"),
        )
        .groupBy(id_col, "__i")
        .agg(F.min("__gh").alias("fp"))
        .select(id_col, "fp")
        .distinct()
    )


def winnow_clone_pairs(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_docs_per_fp: int = 64,
) -> DataFrame:
    """MOSS-style clone-pair detection: document pairs sharing at
    least `min_shared` winnowing fingerprints — position-robust
    evidence of verbatim shared spans (each shared fingerprint
    witnesses a shared substring of ≥ n + window − 1 tokens), the
    pairwise complement of the per-doc winnow digest and an exact
    (non-probabilistic) sibling of minhash_pairs.

    Scale posture: pairs form ONLY within a fingerprint's posting
    list (equi-join on fp, never all-pairs), and fingerprints present
    in more than `max_docs_per_fp` documents are dropped first — a
    fingerprint shared by thousands of docs is boilerplate, carries
    no clone signal, and would make its bucket quadratic (the same
    stop-list guard the LSH banding paths use). The pair aggregate
    shuffles only (doc_a, doc_b) id pairs.

    Output: (doc_a, doc_b, shared_fps), doc_a < doc_b.
    """
    # The (id, fp) relation feeds THREE consumers (the posting-list
    # stop-list count and both join sides) and Catalyst replays the
    # whole winnow stage (token explode + window-min aggregate — the
    # expensive part) once per consumer without materialization:
    # the final plan read 4 parquet scans / 36 exchanges unchecked,
    # 0 / 12 with the checkpoint. ~16 B/row, far cheaper than one
    # replay.
    sel = _winnow_selected(docs, text_col, id_col, n, window)
    sel = sel.localCheckpoint(eager=False)
    rare = (
        sel.groupBy("fp")
        .agg(F.count(F.lit(1)).alias("__nd"))
        .filter(
            (F.col("__nd") >= 2) & (F.col("__nd") <= max_docs_per_fp)
        )
        .select("fp")
    )
    kept = sel.join(rare, "fp")
    a = kept.select(F.col("fp"), F.col(id_col).alias("doc_a"))
    b = kept.select(F.col("fp"), F.col(id_col).alias("doc_b"))
    return (
        a.join(b, "fp")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def connected_components(
    nodes: DataFrame,
    edges: DataFrame,
    id_col: str = "doc_id",
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 25,
) -> DataFrame:
    """Connected components over a near-dup pair graph → cluster ids
    (cluster_id = the component's minimum doc id, so the output is
    deterministic and oracle-checkable via a recursive CTE).

    Iterative min-label propagation: each round every node takes the
    min of its own label and its neighbors' labels; converges in
    O(graph diameter) rounds — near-dup clusters are shallow (stars /
    short chains), so a handful of rounds suffices. Each round is one
    join + one aggregate; `localCheckpoint(eager)` truncates the plan
    lineage so round N's plan doesn't embed rounds 1..N-1 (the
    classic iterative-algorithm pattern on Spark — without it the
    optimizer re-plans an exponentially growing tree).

    Driver involvement is one `count()` per round for convergence —
    O(1) data to the driver, never the labels themselves. The old
    label rides THROUGH the min-aggregate (min over the own-row flag
    — each node contributes exactly one own row, so the conditional
    min IS the previous label), so convergence is a filter+count over
    the round's already-checkpointed output instead of a second
    join+shuffle of the two label generations per round — half the
    per-round shuffle work, same labels.

    Raises RuntimeError if max_iter rounds pass without convergence
    (labels would silently be wrong for any component whose diameter
    exceeds max_iter); near-dup graphs converge in a handful of
    rounds, so hitting the cap signals a pathological input.
    """
    both = edges.select(F.col(a_col).alias("src"), F.col(b_col).alias("dst"))
    both = both.unionByName(
        both.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).localCheckpoint(eager=True)
    labels = nodes.select(
        F.col(id_col).alias("node"), F.col(id_col).alias("label")
    ).localCheckpoint(eager=True)
    converged = False
    for _ in range(max_iter):
        neigh = both.join(
            labels.withColumnRenamed("node", "dst"), "dst"
        ).select(
            F.col("src").alias("node"), "label", F.lit(False).alias("__own")
        )
        rolled = (
            labels.withColumn("__own", F.lit(True))
            .unionByName(neigh)
            .groupBy("node")
            .agg(
                F.min("label").alias("label"),
                F.min(F.when(F.col("__own"), F.col("label"))).alias("__old"),
            )
            .localCheckpoint(eager=True)
        )
        changed = rolled.filter(F.col("label") != F.col("__old")).count()
        labels = rolled.select("node", "label")
        if changed == 0:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge in {max_iter} rounds; "
            "labels would be incomplete — raise max_iter for graphs with "
            "diameter beyond the near-dup regime"
        )
    return labels.select(
        F.col("node").alias(id_col), F.col("label").alias("cluster_id")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
) -> DataFrame:
    """Exact Jaccard similarity over word n-gram sets for candidate
    pairs (verification stage after LSH).

    Single-pass shape: exploding each pair to its two member ids and
    joining the shingle relation ONCE means the (expensive) shingling
    lineage is evaluated once — a per-side join would evaluate it
    twice. Set algebra then happens on exploded grams:
    |union| = distinct grams in the pair, |inter| = grams seen in
    both docs. All shuffles are on uniform keys (doc id, pair id);
    cost is linear in candidate-pair gram volume.

    Every candidate pair appears in the output: pairs whose member
    docs have no n-grams at all (impossible for LSH candidates — a
    signature requires shingles — but possible for caller-supplied
    pairs) come back with jaccard=0.0 rather than silently dropping.
    Candidates must be distinct (doc_a, doc_b) rows — every caller's
    pairs come pre-grouped out of the banding.
    """
    shingled = word_ngram_rows(docs, text_col, id_col, ngram).select(
        F.col(id_col).alias("__doc"), "gram"
    )
    # `candidates` is consumed twice (member explode + sentinel) and
    # its lineage is typically the whole banding chain — checkpoint
    # the bounded pair-scale relation so the chain runs once.
    candidates = candidates.localCheckpoint(eager=False)
    members = candidates.select(
        "doc_a", "doc_b", F.explode(F.array("doc_a", "doc_b")).alias("__doc")
    )
    grams = members.join(shingled, "__doc")
    # One NULL-gram sentinel row per candidate pair rides the same
    # aggregation, so shingle-less pairs reach `stats` too and no
    # reattach join is needed afterwards (the old candidates⋈stats
    # left join sorted two pair-scale relations — a pure extra
    # shuffle, since both sides key on the pair already). Real grams
    # are never NULL (concat_ws over tokens), so the sentinel group
    # is unambiguous; countDistinct skips its NULL __doc, keeping the
    # sentinel out of the intersection count.
    sentinel = candidates.select(
        "doc_a",
        "doc_b",
        F.lit(None).cast(candidates.schema["doc_a"].dataType).alias("__doc"),
        F.lit(None).cast("string").alias("gram"),
    )
    # shingle rows are not pre-deduplicated → distinct doc count per
    # gram gives membership (k == 2 ⇔ gram in both docs)
    per_gram = (
        grams.select("doc_a", "doc_b", "__doc", "gram")
        .unionByName(sentinel)
        .groupBy("doc_a", "doc_b", "gram")
        .agg(F.countDistinct("__doc").alias("k"))
    )
    stats = per_gram.groupBy("doc_a", "doc_b").agg(
        F.sum(
            F.when(F.col("gram").isNotNull(), 1).otherwise(0)
        ).alias("union_size"),
        F.sum(F.when(F.col("k") == 2, 1).otherwise(0)).alias("inter_size"),
    )
    return stats.select(
        "doc_a",
        "doc_b",
        F.when(F.col("union_size") == 0, F.lit(0.0))
        .otherwise(
            F.col("inter_size").cast("double") / F.col("union_size")
        )
        .alias("jaccard"),
    )


def simhash64(
    docs: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """64-bit SimHash over word unigrams: per token take a 64-bit
    hash, each bit votes +1/-1 (repeated tokens vote repeatedly —
    standard term-frequency weighting), sign of the vote sum forms
    the fingerprint bit.

    The token hash is md5 split into two 32-bit halves (g1 = bits
    63..32, g2 = bits 31..0) — the same cross-engine trick as the
    MinHash family, so the whole operator is reproducible in DuckDB
    and oracle-checkable (an earlier xxhash64 variant was
    engine-private and could only be rows-checked). All bit tests
    run on the non-negative halves (no shifts on negative longs) and
    the signed fingerprint is assembled arithmetically as
    -2^63·bit63 + Σ 2^b·bit_b, which stays in int64 range — safe
    under Spark ANSI mode and identical in DuckDB.

    Output: (doc_id, simhash long). One explode + ONE hash-agg pass
    with 32 packed bit-count sums (see _simhash_from_tokens) —
    everything in whole-stage codegen, one shuffle total.
    """
    toks = ensure_parallelism(docs).select(
        F.col(id_col),
        F.explode(F.split(normalized_text(F.col(text_col)), " ")).alias("tok"),
    )
    return _simhash_from_tokens(toks, id_col)


def _simhash_from_tokens(toks: DataFrame, key_col: str) -> DataFrame:
    """SimHash vote pipeline over (key, tok) rows, grouped by an
    arbitrary key — `key_col` is the doc id for the public
    simhash64, or the normalized content hash for the near-dup path
    (identical docs then merge in the map-side combine, and the
    uniform k× scaling of every vote count leaves the sign bits —
    2·cnt_b > n_toks — unchanged). Output: (key_col, simhash).

    Shape (measured 2.3× faster than the previous two-shuffle,
    64-sum form): votes run directly over token OCCURRENCES — one
    shuffle on the key, no (key, tok) term-frequency pre-aggregate
    (per-occurrence voting IS tf weighting) — and the 64 per-bit
    counters are PACKED two to a long (bit b in the low 32 bits of
    packed sum b, bit b+32 in the high 32), so the aggregate carries
    33 sum buffers instead of 65. Field overflow is impossible below
    2^31 tokens per document (the HIGH field accumulates cnt·2^32,
    which exceeds int64 once 2^31 tokens vote 1 on a bit — still a
    ~2-billion-token doc, far past any real corpus row)."""
    id_col = key_col
    occ = toks.select(
        F.col(id_col), *_md5_halves_exprs("tok", "g1", "g2")
    )
    votes = occ.groupBy(id_col).agg(*_vote_agg_cols("g1", "g2"))
    return votes.select(
        F.col(id_col), F.expr(_fingerprint_sql()).alias("simhash")
    )


# Expression-construction discipline for the wide dedup aggregates:
# these helpers emit ONE parsed SQL expression per output column
# (F.expr) instead of building the tree Column-by-Column through
# py4j. Semantics are identical (same resolved expression tree); the
# difference is DRIVER-SIDE construction cost — the column-builder
# form costs ~10 py4j round trips per node, and at 49 aggregate
# buffers + a 64-term fingerprint the driver measurably spent MORE
# wall-clock constructing the plan than executing it (measured
# 1.73 s → 0.24 s for the fused pass's construction alone; bench
# times build+collect, and planning is serial driver work at any
# scale — guide §7.3). Column names are interpolated verbatim into
# the SQL text, so every helper takes trusted (internal) identifiers
# only — never a user-derived name.
_MOD32 = 4294967296


def _md5_halves_exprs(src: str, hi: str, lo: str) -> list[Column]:
    """(hi, lo) 32-bit halves of md5(src) as BIGINTs — the
    Carter-Wegman / SimHash shared hash-family construction
    (cross-engine: '0x'||substr parses identically in DuckDB).
    ``src`` is interpolated into SQL text: trusted identifiers only."""
    return [
        F.expr(
            f"CAST(conv(substring(md5({src}), 1, 8), 16, 10) AS BIGINT)"
        ).alias(hi),
        F.expr(
            f"CAST(conv(substring(md5({src}), 9, 8), 16, 10) AS BIGINT)"
        ).alias(lo),
    ]


def _minhash_agg_exprs(
    num_hashes: int, g1: str = "g1", g2: str = "g2"
) -> list[Column]:
    """The num_hashes Carter-Wegman min-aggregates
    min((h1 + s·h2) mod 2^32) as h0..h{n-1}. ``g1``/``g2`` are
    interpolated into SQL text: trusted identifiers only."""
    return [
        F.expr(f"min(({g1} + {s} * {g2}) % {_MOD32})").alias(f"h{s}")
        for s in range(num_hashes)
    ]


def _vote_agg_cols(hi_col: str, lo_col: str) -> list[Column]:
    """The 33 SimHash vote aggregates over (hi, lo) 32-bit token-hash
    halves: n_toks + 32 PACKED per-bit counters (bit j of the low
    half in the low 32 bits of packed sum j, bit j of the high half —
    fingerprint bit j+32 — in the high 32). Σ (bit_j + bit_{j+32}·2^32)
    — branch-free. Shared by _simhash_from_tokens and the fused
    signature+votes pass so the vote arithmetic lives in one place.
    The column names are interpolated into SQL text: trusted
    identifiers only."""
    cols = [F.expr("count(1)").alias("n_toks")]
    for j in range(32):
        cols.append(
            F.expr(
                f"sum(CAST(shiftright({lo_col}, {j}) & 1 AS BIGINT)"
                f" + shiftleft(CAST(shiftright({hi_col}, {j}) & 1"
                f" AS BIGINT), 32))"
            ).alias(f"p{j}")
        )
    return cols


def _fingerprint_sql() -> str:
    """The signed 64-bit SimHash fingerprint from the packed vote
    columns p0..p31 + n_toks (the _vote_agg_cols output) as ONE SQL
    expression string: -2^63·bit63 + Σ 2^b·bit_b,
    bit_b = (2·cnt_b > n_toks). Reads fixed internal column names
    only."""
    terms = []
    for b in range(64):
        cnt = (
            f"(p{b} & {(1 << 32) - 1})"
            if b < 32
            else f"shiftrightunsigned(p{b - 32}, 32)"
        )
        val = "(-9223372036854775807 - 1)" if b == 63 else str(1 << b)
        terms.append(
            f"CASE WHEN {cnt} * 2 > n_toks THEN CAST({val} AS BIGINT)"
            f" ELSE CAST(0 AS BIGINT) END"
        )
    return " + ".join(terms)


def _sig_votes_fused(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    ngram: int = 3,
    minhash: bool = True,
) -> DataFrame:
    """ONE text scan → (id_col, __ch, [h0..h{n-1},] simhash): the
    normalized content hash, (optionally) the wide MinHash signature,
    AND the SimHash fingerprint of every document — the _hash_sig_wide
    fusion extended so the SimHash tier shares the normalize+tokenize
    scan too (guide §2.4/§6: the corpus text is read, normalized and
    split exactly once for all tiers).

    One row per token POSITION rides the explode (0..size-1 — every
    non-NULL text has ≥1 token because split('') is ['']): the token
    at the position feeds the SimHash vote sums, and the `ngram`-gram
    STARTING at the position (NULL-guarded for the ragged tail and
    for sub-shingle docs) feeds the MinHash min-aggregates — NULL
    gram hashes vanish from min(), so gramless docs surface with h*
    NULL exactly like _hash_sig_wide's sentinel convention. NULL-text
    docs ride a single sentinel row (__i = -1): they stay in the
    lineage for the marks window (content_rep_marks keeps them), but
    their all-NULL vote sums leave `simhash` NULL — exactly the docs
    simhash64 never emits (explode of a NULL token array produces no
    rows), so fingerprint consumers filter simhash IS NOT NULL.
    Identical aggregate semantics to the separate passes: groups are
    (id, __ch) — one per doc — and per-occurrence votes ARE tf
    weighting.

    The content hash rides as an extra GROUP KEY (constant per doc —
    the _hash_sig_wide rationale: a min(string) aggregate would knock
    the plan off HashAggregateExec), so the buffer stays all-long:
    16 mins + 33 packed vote sums."""
    norm = normalized_text(F.col(text_col))
    toks = F.split(norm, " ")
    base = ensure_parallelism(docs).select(
        F.col(id_col),
        F.sha2(norm, 256).alias("__ch"),
        toks.alias("__toks"),
    )
    starts = F.when(
        F.size("__toks") >= 1,
        F.sequence(F.lit(0), F.size("__toks") - 1),
    ).otherwise(F.array(F.lit(-1)))
    gram_sql = "concat_ws(' ', {})".format(
        ", ".join(f"__toks[__i + {k}]" for k in range(ngram))
    )
    exploded = (
        base.select(
            F.col(id_col),
            "__ch",
            "__toks",
            F.explode(starts).alias("__i"),
        )
        .select(
            F.col(id_col),
            "__ch",
            F.expr(
                f"CASE WHEN __i >= 0 AND __i <= size(__toks) - {ngram}"
                f" THEN {gram_sql} END"
            ).alias("gram"),
            F.expr("CASE WHEN __i >= 0 THEN __toks[__i] END").alias("tok"),
        )
        .select(
            F.col(id_col),
            "__ch",
            *(_md5_halves_exprs("gram", "g1", "g2") if minhash else []),
            *_md5_halves_exprs("tok", "t1", "t2"),
        )
    )
    votes = exploded.groupBy(id_col, "__ch").agg(
        *(_minhash_agg_exprs(num_hashes) if minhash else []),
        *_vote_agg_cols("t1", "t2"),
    )
    # p0 is NULL iff every row's token halves were NULL — exactly the
    # NULL-text sentinel docs simhash64 never emits; their simhash
    # stays NULL so fingerprint consumers can filter them out while
    # the marks window still sees the doc.
    return votes.select(
        F.col(id_col),
        "__ch",
        *([f"h{s}" for s in range(num_hashes)] if minhash else []),
        F.expr(
            f"CASE WHEN p0 IS NOT NULL THEN {_fingerprint_sql()} END"
        ).alias("simhash"),
    )


# Plain pigeonhole banding (one band per allowed error + 1) shrinks
# the join key to 64/(k+1) bits; below this width the band-equality
# self-join degenerates toward all-pairs (a 5-bit key = 32 buckets →
# ~n²/32 comparisons per band). Rather than let wide Hamming budgets
# inherit that cliff, the operator switches to multi-probe banding:
# fewer, wider bands with a per-band error allowance d, probing every
# ≤d-bit XOR variant of the probe side's band key. Pigeonhole still
# holds: with n_bands·(d+1) ≥ k+1, a pair within budget k must have
# some band with ≤ d errors, so the probe set covers it — exact, no
# false negatives.
MIN_BAND_BITS = 12


def _band_plan(max_hamming: int) -> tuple[int, int]:
    """Choose (n_bands, per_band_errors) so band keys keep at least
    MIN_BAND_BITS bits. d=0 is plain pigeonhole (k ≤ 4); wider
    budgets raise d until 64 // n_bands clears the floor."""
    for d in range(0, max_hamming + 1):
        n_bands = -(-(max_hamming + 1) // (d + 1))  # ceil
        if n_bands == 1 or 64 // n_bands >= MIN_BAND_BITS:
            return n_bands, d
    return 1, max_hamming


def _probe_masks(width: int, d: int) -> list[int]:
    """All XOR masks of ≤ d set bits within a width-bit band."""
    from itertools import combinations

    masks = [0]
    for r in range(1, d + 1):
        for bits in combinations(range(width), r):
            masks.append(sum(1 << i for i in bits))
    return masks


def simhash_near_dup(
    docs: DataFrame,
    max_hamming: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    collapse_exact: bool = True,
    marked: DataFrame | None = None,
    fingerprints: DataFrame | None = None,
) -> DataFrame:
    """SimHash near-dup pairs: docs whose 64-bit fingerprints differ
    in ≤ max_hamming bits, via multi-index banding — split the
    fingerprint into bands such that any pair within the Hamming
    budget MUST have ≤ d errors in at least one band (pigeonhole).
    d=0 budgets join on exact band equality; wider budgets probe the
    ≤d-bit XOR variants of each band key (Manku-style multi-probe),
    keeping join keys ≥ 2^MIN_BAND_BITS so bucket collision volume
    stays ~n²/2^width instead of n²/32. Candidates are verified with
    bit_count(XOR) — exact, no false negatives.
    Output: (doc_a, doc_b, hamming).

    With collapse_exact (default), exact duplicates are collapsed to
    their min-id representative before banding — identical docs have
    identical fingerprints, so an exact-dup-heavy corpus would
    otherwise pile every copy onto the same band key in every band
    (the n²-bucket pathology banding cannot mitigate). Each collapsed
    group instead surfaces as (rep, member) star pairs with
    hamming = 0; member↔near-dup relations are transitive via the
    rep.

    Collapse mechanics (100 TB shape): fingerprints are computed per
    input doc (linear map-side work on duplicate copies — measured
    cheaper than carrying a wide content-hash key through the hot
    token explode), then the narrow (id, simhash) relation is
    filtered by the survivors of the mark relation
    (content_rep_marks, ~48 B/doc) via a semi join on the uniform id
    key. Full doc rows (text) never shuffle; no doc semi-join
    exists at all."""
    star = None
    n_bands, d = _band_plan(max_hamming)
    width = 64 // n_bands

    # The banded self-join reads the fingerprint relation from both
    # sides, and Catalyst does not share a common subtree between
    # different projections — without materialization the whole
    # fingerprint pass (explode + md5 + 64 vote sums, the expensive
    # half of this operator) runs TWICE. localCheckpoint pins the
    # tiny (id, simhash) relation (16 bytes/doc — ~2.4 GB cluster-wide
    # at 100M docs) and truncates the lineage so each side reads the
    # materialized partitions.
    sh = fingerprints
    if collapse_exact and marked is None and sh is None:
        # Standalone collapse path: ONE fused text scan
        # (_sig_votes_fused, votes-only) yields both the fingerprints
        # and the content hash the marks window needs — previously
        # two full text scans (simhash64 + content_rep_marks). The
        # content hash rides the token explode as a constant-per-doc
        # group key (the _hash_sig_wide rationale); the fused relation
        # is checkpointed because the marks window and the fingerprint
        # projection both read it.
        fused = _sig_votes_fused(
            docs, text_col, id_col, minhash=False
        ).localCheckpoint(eager=False)
        marked = _marks_from_ch(fused, id_col)
        # NULL simhash = the NULL-text sentinel docs simhash64 never
        # emits (they still reach the marks window above)
        sh = fused.filter(F.col("simhash").isNotNull()).select(
            F.col(id_col), "simhash"
        )
    if sh is None:
        sh = simhash64(docs, text_col, id_col)
    if collapse_exact:
        # `marked` lets a caller that already materialized the
        # (id, __keep) mark relation (dedup_method_agreement shares
        # one across both pair families) skip content_rep_marks'
        # extra corpus scan + window pass — the
        # minhash_candidate_pairs idiom; `fingerprints` likewise lets
        # it hand over the (id, simhash) relation its fused pass
        # already computed, so the SimHash tier shares the
        # normalize+tokenize scan.
        if marked is None:
            marked = content_rep_marks(docs, text_col, id_col)
        star = marked.filter(F.col(id_col) != F.col("__keep")).select(
            F.col("__keep").alias("doc_a"), F.col(id_col).alias("doc_b")
        )
        keep_ids = marked.filter(
            F.col(id_col) == F.col("__keep")
        ).select(id_col)
        sh = sh.join(keep_ids, id_col, "semi")
    sh = sh.localCheckpoint()

    # Banding expressions are emitted as parsed SQL strings (ONE
    # py4j round trip each) — the column-builder loops here cost
    # ~0.7 s of driver-side construction per build (guide §7.3;
    # semantics identical, pinned by test_simhash_pairs + the oracle).
    def _band_slice_sql(b: int, src: str) -> str:
        # band b = bits [b*width, (b+1)*width); the last band absorbs
        # the remainder bits. When a band spans all 64 bits
        # (n_bands=1), the mask (1<<64)-1 would overflow LongType —
        # the slice is just `src` itself.
        mask_bits = (64 - b * width) if b == n_bands - 1 else width
        if mask_bits >= 64:
            return src
        return (
            f"(shiftrightunsigned({src}, {b * width})"
            f" & CAST({(1 << mask_bits) - 1} AS BIGINT))"
        )

    band_structs = F.expr(
        "array({})".format(
            ", ".join(
                f"named_struct('band', {b},"
                f" 'band_key', {_band_slice_sql(b, 'simhash')})"
                for b in range(n_bands)
            )
        )
    )
    banded = sh.select(
        F.col(id_col), F.col("simhash"), F.explode(band_structs).alias("b")
    ).select(id_col, "simhash", "b.band", "b.band_key")

    # The tail band absorbs 64 % n_bands remainder bits, so it gets
    # its own (wider) mask set — probing only the low `width` bits
    # there would silently drop pairs whose tail-band errors land in
    # the extra high bits.
    tail_width = 64 - (n_bands - 1) * width

    def _mask_arr_sql(w: int, max_flips: int) -> str:
        return "array({})".format(
            ", ".join(f"{m}L" for m in _probe_masks(w, max_flips))
        )

    def _per_band_masks(max_flips: int) -> Column:
        if tail_width == width:
            return F.expr(_mask_arr_sql(width, max_flips))
        return F.expr(
            f"CASE WHEN band = {n_bands - 1}"
            f" THEN {_mask_arr_sql(tail_width, max_flips)}"
            f" ELSE {_mask_arr_sql(width, max_flips)} END"
        )

    def _exploded_side(
        max_flips: int, id_alias: str, sh_alias: str, m_alias: str
    ) -> DataFrame:
        return banded.select(
            "band",
            F.explode(_per_band_masks(max_flips)).alias(m_alias),
            F.col("band_key"),
            F.col(id_col).alias(id_alias),
            F.col("simhash").alias(sh_alias),
        ).select(
            "band",
            F.col("band_key").bitwiseXOR(F.col(m_alias)).alias("band_key"),
            id_alias,
            sh_alias,
            m_alias,
        )

    if d == 0:
        build = banded.select(
            "band", "band_key",
            F.col(id_col).alias("doc_b"), F.col("simhash").alias("sh_b"),
        )
        probe = banded.select(
            "band", "band_key",
            F.col(id_col).alias("doc_a"), F.col("simhash").alias("sh_a"),
        )
    elif d == 2:
        # Symmetric ball split: cover ≤2 in-band errors with a
        # ≤1-bit-flip ball on EACH side — any weight-≤2 xor x factors
        # as mp ^ mb with w(mp), w(mb) ≤ 1. Explode cost drops from
        # C(width,2)+width+1 (~width²/2) one-sided probe masks to
        # width+1 masks on BOTH sides: at width 16 that is 2·17 rows
        # per (doc, band) instead of 137 — ~4× less exploded shuffle
        # volume. A pair can match a band through several (mp, mb)
        # splits of the same x; the canonical-split filter below
        # keeps exactly one.
        probe = _exploded_side(1, "doc_a", "sh_a", "__mp")
        build = _exploded_side(1, "doc_b", "sh_b", "__mb")
    else:
        # One-sided multi-probe: probe explodes each band key to its
        # ≤d-bit-flip variants.
        build = banded.select(
            "band", "band_key",
            F.col(id_col).alias("doc_b"), F.col("simhash").alias("sh_b"),
        )
        probe = _exploded_side(d, "doc_a", "sh_a", "__mp").drop("__mp")
    xor_sql = "(sh_a ^ sh_b)"
    hamming = F.expr(f"bit_count{xor_sql}")

    def _band_dist_sql(b: int) -> str:
        return f"bit_count({_band_slice_sql(b, xor_sql)})"

    # A pair surfaces once per band within the band budget (≤ n_bands
    # times). Deduplicate ARITHMETICALLY instead of with a distinct
    # shuffle: both fingerprints are in the joined row, so keep a row
    # only when its band is the FIRST band whose in-band distance is
    # within d — every qualifying pair survives exactly once.
    if n_bands > 1:
        cases = " ".join(
            "WHEN band = {b} THEN ({cond})".format(
                b=b,
                cond=" AND ".join(
                    f"{_band_dist_sql(j)} > {d}" for j in range(b)
                ),
            )
            for b in range(n_bands - 1, 0, -1)
        )
        first_band = F.expr(f"CASE {cases} ELSE TRUE END")
    else:
        first_band = F.lit(True)

    # The exploded sides' size estimates come from the pre-explode
    # relation, so the optimizer could wrongly pick a BROADCAST of a
    # millions-of-rows side. At cluster scale neither side is
    # broadcastable (n_docs·n_bands·n_masks rows); the right strategy
    # at every scale is a shuffled hash join, pinned via hint.
    out = (
        probe.join(build.hint("shuffle_hash"), ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(hamming <= max_hamming)
        .filter(first_band)
    )
    if d == 2:
        # Canonical-split filter: the joined row's in-band xor
        # x = mp ^ mb has weight ≤ 2 by construction; keep only the
        # canonical factorization mp = lowest set bit of x (0 when
        # x = 0), mb = the rest — one surviving row per (pair, band).
        x_cases = " ".join(
            f"WHEN band = {b} THEN {_band_slice_sql(b, xor_sql)}"
            for b in range(n_bands - 1, -1, -1)
        )
        x_sql = f"(CASE {x_cases} ELSE CAST(0 AS BIGINT) END)"
        exp_p_sql = (
            f"(CASE WHEN {x_sql} = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE ({x_sql} & ({x_sql} * -1)) END)"
        )
        out = out.filter(
            F.expr(
                f"(__mp = {exp_p_sql})"
                f" AND (__mb = ({x_sql} ^ {exp_p_sql}))"
            )
        )
    out = out.select("doc_a", "doc_b", hamming.alias("hamming"))
    if star is not None:
        out = out.unionByName(
            star.select(
                "doc_a", "doc_b", F.lit(0).cast("integer").alias("hamming")
            )
        )
    return out


def source_overlap(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    key: str = "fingerprint",
    window: int = 8,
) -> DataFrame:
    """Cross-source duplication matrix: for every source pair, how
    many distinct contents appear in both — the mirror-site /
    re-crawl detector that decides which domains to drop wholesale
    before pairwise dedup even runs. `key` picks the content notion:
    "exact" = sha256 of normalized text, "fingerprint" = winnowing
    min-hash over word `window`-grams (robust to small edits, the
    same fingerprint family as textops.rolling_fingerprint).

    Shape: text leaves the scan as a fixed-width key (≤32 B/row
    shuffle); per content key the distinct source set is collected
    (bounded by #sources, not corpus size), pairs are exploded
    row-local, and one count per (src_a, src_b) comes out — never a
    self-join of the corpus. Output: (src_a, src_b,
    shared_contents), src_a < src_b.
    """
    if key == "exact":
        keyed = ensure_parallelism(docs).select(
            F.sha2(normalized_text(F.col(text_col)), 256).alias(
                "content_hash"
            ),
            F.col(source_col).alias("src"),
        )
    elif key == "fingerprint":
        grams = word_ngram_rows(docs, text_col, id_col, window)
        fp = grams.groupBy(id_col).agg(
            F.min(F.substring(F.md5("gram"), 1, 16)).alias("content_hash")
        )
        keyed = docs.select(F.col(id_col), F.col(source_col).alias("src")).join(
            fp, id_col
        ).select("content_hash", "src")
    else:
        raise ValueError(f"unknown key kind: {key!r}")
    srcs = (
        keyed.groupBy("content_hash")
        .agg(F.array_sort(F.collect_set("src")).alias("srcs"))
        .filter(F.size("srcs") >= 2)
    )
    pairs = srcs.select(
        F.explode(
            F.flatten(
                F.transform(
                    F.col("srcs"),
                    lambda a, i: F.transform(
                        F.slice(F.col("srcs"), i + 2, F.size("srcs")),
                        lambda b: F.struct(
                            a.alias("src_a"), b.alias("src_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return pairs.groupBy("p.src_a", "p.src_b").agg(
        F.count(F.lit(1)).alias("shared_contents")
    )


def ngram_containment_pairs(
    docs: DataFrame,
    candidates: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    ngram: int = 3,
) -> DataFrame:
    """Asymmetric n-gram containment for candidate pairs:
    |grams(A) ∩ grams(B)| / |grams(A)| (and the B-direction) — the
    sub-document duplication signal Jaccard misses: a short doc fully
    quoted inside a long one has low Jaccard but containment ≈ 1 on
    the short side. Standard in quote/inclusion detection ahead of
    training-data dedup.

    Same single-join skeleton as ngram_jaccard_pairs (shingling
    lineage evaluated once; shuffles on uniform doc/pair keys). All
    outputs are INTEGER gram counts and floor-ppm ratios of integers
    — exact on any engine, no float drift surface at all. Output:
    (doc_a, doc_b, inter_size, n_grams_a, n_grams_b, cont_a_ppm,
    cont_b_ppm); gramless sides report 0 ppm.
    """
    shingled = word_ngram_rows(docs, text_col, id_col, ngram).select(
        F.col(id_col).alias("__doc"), "gram"
    )
    # `candidates` is consumed twice (member explode + the NULL-gram
    # sentinel) and its lineage is typically the whole banding chain
    # — checkpoint the bounded pair-scale relation so the chain runs
    # once (the ngram_jaccard_pairs discipline).
    candidates = candidates.localCheckpoint(eager=False)
    members = candidates.select(
        "doc_a", "doc_b", F.explode(F.array("doc_a", "doc_b")).alias("__doc")
    )
    # One NULL-gram sentinel row per candidate pair rides the same
    # aggregation (the ngram_jaccard_pairs idiom), so every pair —
    # including gramless ones — survives to the output and NO
    # candidates⋈stats reattach join is needed. Real grams are never
    # NULL, so the sentinel group is unambiguous.
    #
    # Per-side set sizes ride the SAME per-(pair, gram) aggregate as
    # the intersection (side-membership flags, max-folded over
    # duplicate gram rows): n_grams_a = #distinct grams with an
    # A-side row, exactly |grams(A)| for every doc that appears in a
    # pair. The previous shape computed a separate corpus-wide
    # per-doc distinct-gram aggregate and left-joined it onto the
    # spine twice — a SECOND full shingle pass (the gram explode is
    # the expensive stage) plus two pair-scale joins, all replaced by
    # two boolean columns in the aggregate already running.
    sentinel = candidates.select(
        "doc_a",
        "doc_b",
        F.lit(None).cast(candidates.schema["doc_a"].dataType).alias("__doc"),
        F.lit(None).cast("string").alias("gram"),
    )
    per_gram = (
        members.join(shingled, "__doc")
        .select("doc_a", "doc_b", "__doc", "gram")
        .unionByName(sentinel)
        .groupBy("doc_a", "doc_b", "gram")
        .agg(
            F.max(
                (F.col("__doc") == F.col("doc_a")).cast("int")
            ).alias("in_a"),
            F.max(
                (F.col("__doc") == F.col("doc_b")).cast("int")
            ).alias("in_b"),
        )
    )
    stats = per_gram.groupBy("doc_a", "doc_b").agg(
        F.sum(
            F.when(
                F.col("gram").isNotNull()
                & (F.col("in_a") == 1)
                & (F.col("in_b") == 1),
                1,
            ).otherwise(0)
        ).alias("inter_size"),
        F.sum(
            F.when(
                F.col("gram").isNotNull() & (F.col("in_a") == 1), 1
            ).otherwise(0)
        ).alias("n_grams_a"),
        F.sum(
            F.when(
                F.col("gram").isNotNull() & (F.col("in_b") == 1), 1
            ).otherwise(0)
        ).alias("n_grams_b"),
    )

    def _ppm(inter_col: Column, size_col: Column) -> Column:
        return (
            F.when(
                F.coalesce(size_col, F.lit(0)) > 0,
                F.floor(
                    F.coalesce(inter_col, F.lit(0))
                    * F.lit(1_000_000)
                    / size_col
                ),
            )
            .otherwise(F.lit(0))
            .cast("long")
        )

    return stats.select(
        "doc_a",
        "doc_b",
        F.col("inter_size").cast("long").alias("inter_size"),
        F.col("n_grams_a").cast("long").alias("n_grams_a"),
        F.col("n_grams_b").cast("long").alias("n_grams_b"),
        _ppm(F.col("inter_size"), F.col("n_grams_a")).alias("cont_a_ppm"),
        _ppm(F.col("inter_size"), F.col("n_grams_b")).alias("cont_b_ppm"),
    )


def snapshot_diff(
    old_docs: DataFrame,
    new_docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
) -> DataFrame:
    """Corpus snapshot diff by exact content hash: which content was
    added / removed / retained between two dataset versions, per
    source — the release-to-release audit a training-data pipeline
    runs before re-crawling or re-mixing.

    Each side collapses to one row per content hash (sha-of-normalized
    -text, 32 B keys) carrying a deterministic representative source
    (min) and its duplicate count; a full outer join on the hash
    classifies every distinct content as added (new only), removed
    (old only), or retained. Shuffle volume is hashes, never text.
    Output: (status, source, n_hashes, docs_old, docs_new).
    """
    def _collapse(side: DataFrame, tag: str) -> DataFrame:
        return (
            side.select(
                F.sha2(normalized_text(F.col(text_col)), 256).alias("h"),
                F.col(source_col).alias("src"),
            )
            .groupBy("h")
            .agg(
                F.min("src").alias(f"src_{tag}"),
                F.count(F.lit(1)).alias(f"docs_{tag}"),
            )
        )

    a = _collapse(old_docs, "old")
    b = _collapse(new_docs, "new")
    j = a.join(b, "h", "full_outer")
    status = (
        F.when(F.col("docs_old").isNull(), F.lit("added"))
        .when(F.col("docs_new").isNull(), F.lit("removed"))
        .otherwise(F.lit("retained"))
    )
    return (
        j.select(
            status.alias("status"),
            F.coalesce(F.col("src_old"), F.col("src_new")).alias("source"),
            F.coalesce(F.col("docs_old"), F.lit(0)).alias("docs_old"),
            F.coalesce(F.col("docs_new"), F.lit(0)).alias("docs_new"),
        )
        .groupBy("status", "source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_hashes"),
            F.sum("docs_old").cast("long").alias("docs_old"),
            F.sum("docs_new").cast("long").alias("docs_new"),
        )
    )


def dedup_survivorship(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    source_col: str = "source",
    size_col: str = "n_chars",
) -> DataFrame:
    """Per-source exact-dedup survivorship audit — the "what does
    dedup buy us" report a curation run publishes: for each source,
    how many documents survive global exact dedup (min-id keeper per
    normalized content hash) and how many bytes the dropped copies
    represent. Sources dominated by duplicated content show up as a
    low keep rate; that drives crawl-frequency and storage decisions.

    Scale shape: the text never shuffles — only its 32-byte content
    hash does (one window shuffle on the uniform hash key, the
    exact_dedup idiom), then a tiny per-source aggregate.
    Output: (source, docs_total, docs_kept, bytes_total,
    bytes_dropped, keep_ppm).
    """
    from pyspark.sql import Window

    hashed = ensure_parallelism(docs).select(
        F.col(id_col),
        F.col(source_col).alias("source"),
        F.col(size_col).cast("long").alias("sz"),
        F.sha2(normalized_text(F.col(text_col)), 256).alias("__ch"),
    )
    marked = hashed.withColumn(
        "__keep", F.min(id_col).over(Window.partitionBy("__ch"))
    )
    kept = F.when(F.col(id_col) == F.col("__keep"), 1).otherwise(0)
    return (
        marked.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("docs_total"),
            F.sum(kept).cast("long").alias("docs_kept"),
            F.sum("sz").cast("long").alias("bytes_total"),
            F.sum(F.when(kept == 0, F.col("sz")).otherwise(0))
            .cast("long")
            .alias("bytes_dropped"),
        )
        .withColumn(
            "keep_ppm",
            F.floor(
                F.lit(1_000_000.0) * F.col("docs_kept") / F.col("docs_total")
            ).cast("long"),
        )
    )


def jaccard_threshold_histogram(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    wide: DataFrame | None = None,
    marked: DataFrame | None = None,
) -> DataFrame:
    """Near-dup threshold calibration curve: bucket every LSH
    candidate pair's exact n-gram Jaccard into deciles and report
    pair counts per bucket. This is how the dedup threshold is
    actually chosen in practice — run once, read the histogram, pick
    the knee — and it reuses the full candidate chain (exact-collapse
    → MinHash bands → exact verification) so the curve reflects the
    production pipeline, not a sample.

    Output is ≤11 tiny rows; every stage upstream is the existing
    bounded-bucket LSH machinery.
    Output: (bucket_ppm, n_pairs) where bucket_ppm is the decile
    floor (0, 100000, ..., 1000000 for exact-dup star edges).
    """
    cands = minhash_candidate_pairs(
        docs, text_col=text_col, id_col=id_col, wide=wide, marked=marked
    )
    pairs = ngram_jaccard_pairs(
        docs, cands.select("doc_a", "doc_b"), text_col, id_col
    )
    # round to 6 places FIRST (the cross-engine-proven contract of the
    # ngram_jaccard entry), then to integer micro — the +0.5 absorbs
    # the representation error of the rounded double.
    ppm = F.floor(
        F.round(F.col("jaccard"), 6) * F.lit(1_000_000.0) + F.lit(0.5)
    ).cast("long")
    bucket = (F.least(ppm, F.lit(999_999)) - F.least(ppm, F.lit(999_999)) % 100_000)
    # exact-dup pairs (jaccard == 1.0) get their own terminal bucket
    bucket = F.when(ppm >= 1_000_000, F.lit(1_000_000)).otherwise(bucket)
    return (
        pairs.select(bucket.alias("bucket_ppm"))
        .groupBy("bucket_ppm")
        .agg(F.count(F.lit(1)).cast("long").alias("n_pairs"))
    )


def ngram_dup_curve(
    docs: DataFrame,
    max_n: int = 6,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Duplication-rate curve across n-gram granularities n = 1..max_n
    — the table that picks a dedup policy's shingle size: unigram
    duplication is near-total in any natural corpus, document-level
    near zero; the knee in between says where span-level dedup stops
    paying. dup_ppm(n) = 1e6·(total_n − distinct_n)/total_n.

    Single corpus pass, shuffle-free gram construction (the
    word_ngram_rows idiom): explode a start-index range per doc and
    slice the token array positionally, emitting every n = 1..max_n
    gram anchored at that position at once — plain codegen exprs end
    to end, no token row ever crosses an exchange (the earlier
    posexplode + max_n-lead window paid a full shuffle+sort of every
    token row first). Grams shuffle as fixed-width md5 digests, never
    as strings (identical digests on any engine, so distinct-counting
    parity holds), already partially aggregated map-side; one
    (n, digest) hash aggregate + a max_n-row rollup. The ppm is
    DECIMAL-exact — 1e6·count wraps int64 past ~9.2e12 grams, which
    a 100 TB corpus exceeds.

    Output: (n, total_grams, distinct_grams, dup_ppm).
    """
    toks_arr = F.split(normalized_text(F.col(text_col)), " ")
    base = ensure_parallelism(docs).select(toks_arr.alias("__toks"))
    starts = F.when(
        F.size("__toks") >= 1,
        F.sequence(F.lit(0), F.size("__toks") - 1),
    ).otherwise(F.expr("array()"))
    # per start j, one entry per gram length n that still fits
    # (j + n - 1 <= size - 1); the when-guard trims the ragged tail
    entries = [
        F.when(
            F.col("__j") + (n - 1) < F.size("__toks"),
            F.struct(
                F.lit(n).cast("int").alias("n"),
                F.md5(
                    F.concat_ws(
                        " ",
                        *[F.expr(f"__toks[__j + {k}]") for k in range(n)],
                    )
                ).alias("g"),
            ),
        )
        for n in range(1, max_n + 1)
    ]
    grams = (
        base.select("__toks", F.explode(starts).alias("__j"))
        .select(
            F.explode(
                F.filter(F.array(*entries), lambda e: e.isNotNull())
            ).alias("e")
        )
        .select(F.col("e.n").alias("n"), F.col("e.g").alias("g"))
    )
    per_gram = grams.groupBy("n", "g").agg(
        F.count(F.lit(1)).cast("long").alias("c")
    )
    return (
        per_gram.groupBy("n")
        .agg(
            F.sum("c").cast("long").alias("total_grams"),
            F.count(F.lit(1)).cast("long").alias("distinct_grams"),
        )
        .select(
            F.col("n").cast("long").alias("n"),
            "total_grams",
            "distinct_grams",
            F.expr(
                "CAST((CAST(total_grams - distinct_grams AS DECIMAL(38,0))"
                " * 1000000) DIV total_grams AS LONG)"
            ).alias("dup_ppm"),
        )
    )


def clone_pairs_verified(
    docs: DataFrame,
    max_distance_ppm: int = 200_000,
    min_shared_fps: int = 2,
    max_pairs_per_doc: int | None = 1_000,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Exact edit-distance verification of the winnowing clone
    candidates — the two-tier near-dup shape (cheap recall stage →
    exact verify on the bounded candidate set) with Levenshtein as
    the verifier: a pair survives when
    distance ≤ max_distance_ppm · max(len_a, len_b) / 1e6 over the
    normalized texts. Winnowing alone proves shared SPANS; the edit
    ratio proves the documents are globally near-identical, not just
    sharing one boilerplate block.

    Scale contract: Levenshtein is O(len_a·len_b) per pair and runs
    ONLY on the winnow candidates — a relation the fingerprint
    stop-list has already bounded (boilerplate fps are dropped, so
    no quadratic bucket feeds this). The candidate id-pairs are
    checkpointed (they feed three consumers — the id prune and both
    text joins — and the winnow subplan must not replay per
    consumer), and the text relation is broadcast-semi-pruned to
    the ids that actually appear in a pair BEFORE texts join back,
    so corpus text never rides a shuffle. Both engines compute the
    identical integer distance, so the output is hash-exact.
    Output: (doc_a, doc_b, shared_fps, distance, dist_ppm),
    dist_ppm = floor(1e6·distance / max(len_a, len_b)).

    `max_pairs_per_doc` is the verifier's refusal valve (the
    similarity tier's quadratic-guard idiom): a corpus adversarial
    enough to defeat the boilerplate fingerprint cap — one document
    winnow-matching a large fraction of the corpus — must degrade to
    an explicit error, not a silent O(pairs·len²) multi-hour stage.
    The probe is a cheap groupBy over the already-checkpointed
    id-pair relation. Pass None to force verification regardless.
    """
    cand = winnow_clone_pairs(
        docs, text_col=text_col, id_col=id_col,
    ).filter(F.col("shared_fps") >= min_shared_fps)
    cand = cand.localCheckpoint(eager=False)
    if max_pairs_per_doc is not None:
        hot = (
            cand.select(F.col("doc_a").alias("__d"))
            .unionAll(cand.select(F.col("doc_b").alias("__d")))
            .groupBy("__d")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_pairs_per_doc)
            .limit(1)
            .collect()
        )
        if hot:
            raise ValueError(
                f"clone_pairs_verified: doc {hot[0]['__d']} appears in "
                f"{hot[0]['__n']} candidate pairs (> {max_pairs_per_doc}); "
                "the exact Levenshtein tier would be quadratic on this "
                "hot spot — tighten the winnow boilerplate cap or raise "
                "min_shared_fps, or pass max_pairs_per_doc=None to force"
            )
    pair_ids = (
        cand.select(F.col("doc_a").alias(id_col))
        .unionAll(cand.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    # Both text join sides (ta, tb) derive from this pruned relation;
    # without materialization each side replays the corpus scan +
    # semi-join. It holds only the docs that appear in a candidate
    # pair — pair-bounded, not corpus-bounded.
    norm = docs.join(F.broadcast(pair_ids), id_col, "semi").select(
        F.col(id_col), normalized_text(F.col(text_col)).alias("__nt")
    ).localCheckpoint(eager=False)
    ta = norm.select(
        F.col(id_col).alias("doc_a"), F.col("__nt").alias("__ta")
    )
    tb = norm.select(
        F.col(id_col).alias("doc_b"), F.col("__nt").alias("__tb")
    )
    d = F.levenshtein(F.col("__ta"), F.col("__tb"))
    mx = F.greatest(
        F.length("__ta"), F.length("__tb"), F.lit(1)
    ).cast("long")
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            "shared_fps",
            d.cast("long").alias("distance"),
            F.floor(F.lit(1_000_000) * d.cast("long") / mx)
            .cast("long")
            .alias("dist_ppm"),
        )
        .filter(F.col("dist_ppm") <= max_distance_ppm)
    )


def dedup_method_agreement(
    docs: DataFrame,
    simhash_max_hamming: int = 10,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Cross-validation of the two fuzzy dedup families: the Venn
    counts of MinHash-LSH candidate pairs vs SimHash Hamming pairs
    over the same corpus. Before trusting EITHER at 100 TB you want
    to know where they disagree — MinHash sees shingle-set overlap
    (robust to reordering, blind to char-level edits inside
    shingles), SimHash sees token-frequency direction (robust to
    small edits, blind to ordering) — and a large one-sided region
    means the dedup policy needs both tiers, not one.

    Both pair relations are the production bucketed plans themselves
    (exact-dup collapse included — both emit collapsed copies as
    star pairs, so stars land in the intersection by construction).
    The comparison is one full outer join on the (doc_a, doc_b) pair
    key — uniform key, pair-relation scale, no text — and one global
    aggregate. Output (one row): n_minhash, n_simhash, n_both,
    only_minhash, only_simhash, n_union, overlap_ppm (Jaccard of the
    pair sets).
    """
    # ONE fused text pass (_sig_votes_fused: content hash + wide
    # MinHash signature + SimHash fingerprint) feeds the shared
    # exact-dup mark relation, the MinHash chain's signatures AND the
    # SimHash tier's fingerprints: before the fusion the operator
    # paid three text scans (marks, MinHash shingles, SimHash
    # tokens), then two (cs8 fused marks+signature), now ONE — the
    # corpus text is read, normalized and tokenized once for both
    # tiers. The marks window rides the fused checkpoint's (id, __ch)
    # projection (identical to content_rep_marks, equivalence
    # pytest-pinned); per-position rows feed the MinHash
    # min-aggregates (gram at the position) and the SimHash vote
    # sums (token at the position) in the same grouped aggregate.
    num_hashes = DEFAULT_NUM_HASHES
    fused = _sig_votes_fused(
        docs, text_col, id_col, num_hashes=num_hashes
    ).localCheckpoint(eager=False)
    wide = fused.filter(F.col("h0").isNotNull()).select(
        F.col(id_col), *[f"h{s}" for s in range(num_hashes)]
    )
    marked = _marks_from_ch(fused, id_col)
    mh = minhash_candidate_pairs(
        docs, text_col=text_col, id_col=id_col, marked=marked, wide=wide
    ).select("doc_a", "doc_b", F.lit(1).alias("__mh"))
    sh = simhash_near_dup(
        docs, max_hamming=simhash_max_hamming,
        text_col=text_col, id_col=id_col, marked=marked,
        fingerprints=fused.filter(F.col("simhash").isNotNull()).select(
            F.col(id_col), "simhash"
        ),
    ).select("doc_a", "doc_b", F.lit(1).alias("__sh"))
    j = mh.join(sh, ["doc_a", "doc_b"], "full_outer")
    return j.agg(
        F.sum(F.coalesce(F.col("__mh"), F.lit(0)))
        .cast("long")
        .alias("n_minhash"),
        F.sum(F.coalesce(F.col("__sh"), F.lit(0)))
        .cast("long")
        .alias("n_simhash"),
        F.sum(
            F.when(F.col("__mh").isNotNull() & F.col("__sh").isNotNull(), 1)
            .otherwise(0)
        ).cast("long").alias("n_both"),
        F.sum(
            F.when(F.col("__mh").isNotNull() & F.col("__sh").isNull(), 1)
            .otherwise(0)
        ).cast("long").alias("only_minhash"),
        F.sum(
            F.when(F.col("__mh").isNull() & F.col("__sh").isNotNull(), 1)
            .otherwise(0)
        ).cast("long").alias("only_simhash"),
        F.count(F.lit(1)).cast("long").alias("n_union"),
    ).select(
        "n_minhash",
        "n_simhash",
        "n_both",
        "only_minhash",
        "only_simhash",
        "n_union",
        F.expr(
            "(1000000 * n_both) DIV greatest(n_union, 1)"
        ).alias("overlap_ppm"),
    )


def substring_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    span: int = 50,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring dedup (Lee et al., "Deduplicating Training
    Data Makes Language Models Better"): every token whose position
    is covered by a `span`-token substring that appears verbatim in
    at least `min_docs` distinct documents is REMOVED, and each doc
    is rebuilt from its surviving tokens in original order. The
    remove-the-span production half of `dup_ngram_span_stats` (which
    only measures coverage); the paper's default span is 50 tokens.

    Relational formulation instead of the paper's suffix array —
    equivalent for fixed-width spans because a maximal shared run of
    length >= span is exactly the union of its length-`span` shingles,
    each of which is independently cross-doc duplicated:
      1. positioned tokens (posexplode, one shuffle+sort per doc key);
      2. length-`span` gram hash at every start via lead() over that
         same sort (whole-stage codegen, no second shuffle);
      3. duplicated-gram set = gram hashes in >= min_docs distinct
         docs (one hash-shuffle of the gram relation, partial
         count_distinct map-side);
      4. join the flag back on the gram hash (AQE sizes it — the dup
         set is data-dependent, no broadcast gamble);
      5. position p is covered iff any dup gram starts in
         [p-span+1, p]: max() over a bounded ROWS frame on the doc
         sort — no self-join on spans;
      6. per-doc rebuild rides the same doc-key partitioning:
         collect kept (pos, tok) structs, array_sort restores order
         (bounded by doc length, same idiom as boilerplate_removal).

    Scale shape: three linear shuffles of the one-row-per-token
    relation (doc sort, gram agg, flag join) — the standard
    relational alternative to a distributed suffix array; no
    operator materializes more than a doc's tokens in one state.
    Gram identity is the full 128-bit md5: at 1e12 corpus positions
    a 60-bit prefix would birthday-collide and silently delete
    non-duplicated text, so the wider shuffle key is the correct
    trade.

    Output: (doc_id, n_tokens, n_removed, cleaned_md5) — cleaned_md5
    pins the rebuilt text (md5 of space-joined survivors; empty docs
    pin md5("")).
    """
    from pyspark.sql import Window

    toks = ensure_parallelism(docs).select(
        F.col(id_col),
        F.posexplode(
            F.split(normalized_text(F.col(text_col)), " ")
        ).alias("pos", "tok"),
    )
    w = Window.partitionBy(id_col).orderBy("pos")
    parts = [F.col("tok")] + [
        F.lead("tok", i).over(w) for i in range(1, span)
    ]
    base = toks.select(
        F.col(id_col),
        "pos",
        "tok",
        F.when(
            F.lead("tok", span - 1).over(w).isNotNull(),
            F.md5(F.concat_ws(" ", *parts)),
        ).alias("gh"),
    )
    dup = (
        base.filter(F.col("gh").isNotNull())
        .groupBy("gh")
        .agg(F.count_distinct(F.col(id_col)).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("gh", F.lit(1).alias("ds"))
    )
    cov_w = (
        Window.partitionBy(id_col).orderBy("pos").rowsBetween(-(span - 1), 0)
    )
    covered = base.join(dup, "gh", "left").select(
        F.col(id_col),
        "pos",
        "tok",
        F.max("ds").over(cov_w).alias("cov"),
    )
    kept_struct = F.when(
        F.col("cov").isNull(), F.struct(F.col("pos"), F.col("tok"))
    )
    return covered.groupBy(id_col).agg(
        F.count(F.lit(1)).alias("n_tokens"),
        F.count("cov").alias("n_removed"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda x: x.getField("tok"),
                ),
                " ",
            )
        ).alias("cleaned_md5"),
    )


LSH_PARAM_CONFIGS: tuple[tuple[int, int], ...] = (
    (16, 1), (8, 2), (4, 4), (2, 8), (1, 16),
)


def lsh_near_dup_tuned(
    docs: DataFrame,
    recall_floor_ppm: int = 950_000,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    ngram: int = 3,
) -> DataFrame:
    """Advisor-EXECUTING banding — closes the lsh_param_advisor loop
    the way sorted_rewrite closes the maintenance advisors': the
    S-curve recommendation is computed, picked, and run inside one
    plan, so the emitted near-dup pairs are produced under the tuned
    (bands, rows_per_band) rather than the static default.

    Decision rule (deterministic, 5-row relation): among the b·r = 16
    splits, take the CHEAPEST config whose analytic catch probability
    at s = 0.7 meets `recall_floor_ppm` — minimal
    expected_caught_pairs ≈ minimal candidate-verification volume —
    falling back to the max-recall config if none qualifies; ties
    break on bands ascending. The pick stays a broadcast 1-row
    relation (the watermark_recommendation struct-pick precedent),
    never a driver round-trip.

    Execution under the pick: the production exact-collapsed pipeline
    (content_rep_marks collapse, star pairs through the
    representative) with band keys built from ONE wide-signature pass
    for ALL five configs and filtered by a broadcast join on the
    picked (bands, rows_per_band). Building the 31 candidate keys and
    keeping ~b costs bounded per-row string concats — far cheaper
    than either a second signature pass or an extra 16-rows/doc
    shuffle of the long-form signature, and the bucket shuffle (the
    scale cost) carries ONLY the picked config's keys.

    Sub-band guarantee: configs with smaller r are band-refinements
    of larger-r configs over the same seeds, so any pair the 4×4
    default surfaces is also surfaced at 8×2 or 16×1 — at the DEFAULT
    floor (0.95, which only those refinement configs can meet) tuning
    never loses a default-caught pair (pinned in
    tests/test_round9_ops.py). A caller-supplied floor low enough to
    qualify a COARSER config (2×8, 1×16) trades that superset
    property away for precision — intended, but worth knowing.

    Output: (doc_a, doc_b, n_shared_bands, bands, rows_per_band).
    """
    # ONE fused text pass (_hash_sig_wide: content hash + wide
    # signature) shared by the advisor's candidate chain and the
    # tuned key construction below — the signature feeds both (one
    # row/doc, ~150 B), and the exact-dup mark relation is the window
    # over the SAME relation's (id, __ch), so the whole operator
    # scans the corpus once (it previously paid two text scans:
    # signatures + content_rep_marks).
    shared_wide, marked = _fused_wide_and_marks(
        docs, text_col, id_col, num_hashes, ngram
    )
    adv = lsh_param_advisor(
        docs, text_col, id_col, wide=shared_wide, marked=marked
    )
    # the 1-row pick is broadcast to three consumers; checkpoint it so
    # each does NOT replay the advisor's full histogram chain (the
    # no-cross-branch-reuse gotcha — 3x the advisor cost unchecked)
    pick = (
        adv.orderBy(
            F.expr(f"catch_at_70_ppm >= {recall_floor_ppm}").desc(),
            F.expr(
                f"CASE WHEN catch_at_70_ppm >= {recall_floor_ppm}"
                " THEN expected_caught_pairs ELSE -catch_at_70_ppm END"
            ).asc(),
            F.col("bands").asc(),
        )
        .limit(1)
        .select("bands", "rows_per_band")
        .localCheckpoint(eager=False)
    )

    # the shared mark relation, consumed by star AND keep filter
    star = marked.filter(F.col(id_col) != F.col("__keep")).select(
        F.col("__keep").alias("doc_a"), F.col(id_col).alias("doc_b")
    )
    keep_ids = marked.filter(F.col(id_col) == F.col("__keep")).select(id_col)
    wide = shared_wide.join(keep_ids, id_col, "semi")
    # ONE parsed array-of-named_struct expression (the 31-struct
    # column-builder form cost ~2s of py4j round trips per build)
    key_structs = F.expr(
        "array({})".format(
            ", ".join(
                "named_struct('bands', {b}L, 'rows_per_band', {r}L,"
                " 'band', {band}, 'band_key', concat_ws('|', {cols}))".format(
                    b=b,
                    r=r,
                    band=band,
                    cols=", ".join(
                        f"h{band * r + i}" for i in range(r)
                    ),
                )
                for b, r in LSH_PARAM_CONFIGS
                for band in range(b)
            )
        )
    )
    keys = (
        wide.select(F.col(id_col), F.explode(key_structs).alias("k"))
        .select(id_col, "k.bands", "k.rows_per_band", "k.band", "k.band_key")
        .join(F.broadcast(pick), ["bands", "rows_per_band"])
    )
    pairs = _bucket_pairs(keys, id_col)
    star_pairs = star.crossJoin(F.broadcast(pick)).select(
        "doc_a",
        "doc_b",
        F.col("bands").cast("long").alias("n_shared_bands"),
    )
    # broadcast 1-row scalar attach (never a data×data product)
    return pairs.unionByName(star_pairs).crossJoin(F.broadcast(pick))


def lsh_param_advisor(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    wide: DataFrame | None = None,
    marked: DataFrame | None = None,
) -> DataFrame:
    """LSH banding-parameter advisor — the design decision behind
    every MinHash deployment: with a 16-hash signature split into b
    bands of r rows, a pair of similarity s collides with
    probability 1 − (1 − s^r)^b, and the (b, r) choice moves the
    S-curve's knee. This advisor evaluates every b·r = 16 split
    against the CORPUS'S OWN observed pair-similarity histogram
    (jaccard_threshold_histogram — the production candidate chain,
    not a synthetic prior), so the recall trade-off is read off real
    mass, plus the analytic catch probability at s = 0.5/0.7/0.9 for
    interpretation. Expected counts are RELATIVE (the histogram only
    sees pairs the current banding surfaced — stated bias); the
    relative ordering across configs is what the decision needs.

    Integer-exact: similarities live in ppm and every power is a
    floored ppm-multiply fold (aggregate over sequence — exponents
    are data, so no unrolling), one floor per multiply, identical in
    the generated DuckDB chains. All post-histogram relations are
    ≤ |buckets| × |configs| (metadata scale).

    Output per config: (bands, rows_per_band,
    expected_caught_pairs, catch_at_50_ppm, catch_at_70_ppm,
    catch_at_90_ppm).
    """
    hist = jaccard_threshold_histogram(
        docs, text_col, id_col, wide=wide, marked=marked
    )
    cfg = F.expr(
        "explode(array({}))".format(
            ", ".join(
                f"named_struct('b', {b}L, 'r', {r}L)"
                for b, r in LSH_PARAM_CONFIGS
            )
        )
    )
    s_mid = F.expr(
        "CAST(CASE WHEN bucket_ppm >= 1000000 THEN 1000000"
        " ELSE bucket_ppm + 50000 END AS BIGINT)"
    )

    def catch(s_expr: str) -> str:
        p1 = (
            f"aggregate(sequence(1, c.r), CAST(1000000 AS BIGINT),"
            f" (acc, k) -> (acc * {s_expr}) DIV 1000000)"
        )
        miss = (
            f"aggregate(sequence(1, c.b), CAST(1000000 AS BIGINT),"
            f" (acc, k) -> (acc * (1000000 - {p1})) DIV 1000000)"
        )
        return f"CAST(1000000 - {miss} AS BIGINT)"

    scored = (
        hist.select(s_mid.alias("s"), "n_pairs")
        .select("s", "n_pairs", cfg.alias("c"))
        .select(
            F.col("c.b").alias("bands"),
            F.col("c.r").alias("rows_per_band"),
            (F.col("n_pairs") * F.expr(catch("s"))).alias("w"),
        )
        .groupBy("bands", "rows_per_band")
        .agg(
            F.expr("CAST(sum(w) DIV 1000000 AS BIGINT)").alias(
                "expected_caught_pairs"
            )
        )
    )
    analytic = scored.select(
        "bands",
        "rows_per_band",
        "expected_caught_pairs",
        *[
            F.expr(
                catch(str(s)).replace("c.r", "rows_per_band").replace(
                    "c.b", "bands"
                )
            ).alias(f"catch_at_{lbl}_ppm")
            for s, lbl in ((500_000, "50"), (700_000, "70"), (900_000, "90"))
        ],
    )
    return analytic


def minhash_estimator_audit(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = DEFAULT_NUM_HASHES,
    ngram: int = 3,
) -> DataFrame:
    """Estimator-calibration audit for the MinHash pipeline: for every
    candidate pair the production banding surfaces, the SKETCHED
    Jaccard (matching signature coordinates ÷ num_hashes — the
    unbiased MinHash estimate) side by side with the EXACT
    distinct-shingle Jaccard, plus the signed error. This is the
    "can I trust the 16-hash sketch at my similarity threshold"
    measurement that sizes num_hashes before a corpus-wide dedup run
    — the estimator's ±1/16 quantization and its variance
    √(s(1−s)/16) become visible as err_ppm spread.

    Scale: the audited relation is BOUNDED by the banding's candidate
    pairs (never all pairs); the estimate joins the wide signature
    (one row/doc) twice on uniform id keys; the exact side joins the
    distinct-shingle relation per pair id the ngram_containment way.
    Exact-duplicate star pairs (empty-or-equal shingle sets) land at
    exact = est = 1e6 by definition.

    Output: (doc_a, doc_b, n_shared_bands, est_jaccard_ppm,
    exact_jaccard_ppm, err_ppm).
    """
    # four consumers for the pair spine (est + two size tags + the
    # shingle-match tag), four for the shingle relation (sizes twice,
    # ga, gb), two for the wide signature — checkpoint all three so
    # no branch replays the banding / signature / shingle lineage
    # (measured 18 parquet scans unchecked; the funnel's
    # materialize-vs-rescan argument). The checkpointed wide
    # signature feeds the banding chain too (`wide=`): the audit's
    # estimate side needs the signature relation anyway, so the
    # candidate generator must not pay the shingle+hash+min-agg pass
    # a second time.
    # the wide signature AND the exact-dup marks come from ONE fused
    # text pass (_hash_sig_wide) — the banding chain previously
    # derived its marks from a content_rep_marks scan of its own,
    # so the operator paid three text scans (signature, marks,
    # shingles); now two.
    wide, marked = _fused_wide_and_marks(
        docs, text_col, id_col, num_hashes, ngram
    )
    pairs = minhash_candidate_pairs(
        docs, text_col, id_col, num_hashes, bands=4, ngram=ngram,
        wide=wide, marked=marked,
    ).localCheckpoint(eager=False)
    wa = wide.select(
        F.col(id_col).alias("doc_a"),
        *[F.col(f"h{s}").alias(f"a{s}") for s in range(num_hashes)],
    )
    wb = wide.select(
        F.col(id_col).alias("doc_b"),
        *[F.col(f"h{s}").alias(f"b{s}") for s in range(num_hashes)],
    )
    matches_sql = " + ".join(
        f"(CASE WHEN a{s} = b{s} THEN 1 ELSE 0 END)"
        for s in range(num_hashes)
    )
    # LEFT joins: a star pair of byte-identical sub-shingle-length
    # docs has no signature rows at all — by definition its sketch
    # agrees completely, so it scores 1e6 instead of vanishing (and
    # one-sided absence cannot occur: star partners are identical,
    # banding pairs require signatures on both sides)
    est = (
        pairs.join(wa, "doc_a", "left")
        .join(wb, "doc_b", "left")
        .select(
            "doc_a",
            "doc_b",
            "n_shared_bands",
            F.expr(
                f"CASE WHEN a0 IS NULL OR b0 IS NULL"
                f" THEN CAST(1000000 AS BIGINT)"
                f" ELSE 1000000 * ({matches_sql}) DIV {num_hashes} END"
            )
            .cast("long")
            .alias("est_jaccard_ppm"),
        )
    )
    grams = (
        word_ngram_rows(docs, text_col, id_col, ngram)
        .distinct()
        .localCheckpoint(eager=False)
    )
    sizes = grams.groupBy(id_col).agg(
        F.count(F.lit(1)).cast("long").alias("n_grams")
    )
    ga = grams.select(F.col(id_col).alias("doc_a"), "gram")
    gb = grams.select(F.col(id_col).alias("doc_b"), "gram")
    # Tagged-union fold (the quality_psi_drift / ngram_jaccard_pairs
    # idiom): every per-pair contribution — the estimate row, each
    # side's shingle-set size, each matched shingle — lands as a
    # tagged row on the (doc_a, doc_b) key and ONE map-side-combined
    # aggregate assembles the audit. The previous shape reattached
    # the pair-scale `inter` and `exact` relations to the pair spine
    # with broadcast hints; candidate pairs grow with the corpus
    # (star pairs alone scale with the duplicate count), so a pair-
    # scale broadcast is scale-wrong — corrected here by removing the
    # reattach joins entirely rather than re-sorting the spine. The
    # joins that remain all marry the pair spine to per-doc relations
    # (signatures, shingle sets, sizes) on uniform id keys — genuine
    # big-big joins at corpus scale, correctly left to SMJ/AQE.
    _L = lambda: F.lit(None).cast("long")  # noqa: E731
    tag = lambda df, **cols: df.select(  # noqa: E731
        "doc_a",
        "doc_b",
        *[
            (cols[c] if c in cols else _L()).alias(c)
            for c in ("nsb", "est", "sa", "sb", "hit")
        ],
    )
    spine = pairs.select("doc_a", "doc_b")
    parts = (
        tag(est, nsb=F.col("n_shared_bands"), est=F.col("est_jaccard_ppm"))
        .unionByName(tag(
            spine.join(
                sizes.select(
                    F.col(id_col).alias("doc_a"),
                    F.col("n_grams").alias("size_a"),
                ),
                "doc_a",
            ),
            sa=F.col("size_a"),
        ))
        .unionByName(tag(
            spine.join(
                sizes.select(
                    F.col(id_col).alias("doc_b"),
                    F.col("n_grams").alias("size_b"),
                ),
                "doc_b",
            ),
            sb=F.col("size_b"),
        ))
        .unionByName(tag(
            spine.join(ga, "doc_a").join(gb, ["doc_b", "gram"]),
            hit=F.lit(1).cast("long"),
        ))
    )
    return (
        parts.groupBy("doc_a", "doc_b")
        .agg(
            F.max("nsb").alias("n_shared_bands"),
            F.max("est").alias("est_jaccard_ppm"),
            F.max("sa").alias("sa"),
            F.max("sb").alias("sb"),
            F.sum("hit").alias("n_inter"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared_bands",
            "est_jaccard_ppm",
            F.expr(
                "CASE WHEN coalesce(sa, 0) + coalesce(sb, 0) = 0"
                " THEN CAST(1000000 AS BIGINT)"
                " ELSE CAST(1000000 * coalesce(n_inter, 0) DIV"
                " (coalesce(sa, 0) + coalesce(sb, 0)"
                "  - coalesce(n_inter, 0)) AS BIGINT) END"
            ).alias("exact_jaccard_ppm"),
        )
        .select(
            "doc_a",
            "doc_b",
            "n_shared_bands",
            "est_jaccard_ppm",
            "exact_jaccard_ppm",
            (F.col("est_jaccard_ppm") - F.col("exact_jaccard_ppm"))
            .cast("long")
            .alias("err_ppm"),
        )
    )
