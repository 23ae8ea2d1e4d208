"""Deduplication operators for LLM-scale corpus curation.

The reference has no dedup (its closest primitive is the ndb table's
last-write-wins upsert by key, scripts/dbitool.pl:2561-2694 — see
dbitool_spark.ndb); these operators are the north-star extension
scoped in SURVEY.md §7 M5, designed shuffle-first for 100 TB:

- exact dedup: hash shuffle on the dedup key(s) — Spark's
  dropDuplicates, one shuffle, map-side combine;
- keyed last-write-wins: window by key ordered by version — the
  distributed generalization of ndb upsert;
- MinHash-LSH near-dup: shingle → minhash signature → banded bucket
  join. Candidates are generated ONLY within equal (band, band-hash)
  buckets — never an all-pairs product — then verified with exact
  Jaccard. Every step is built-in column expressions (xxhash64,
  transform, array_min): JVM-side, codegen, no Python in the hot path;
- SimHash: 64-bit signed-bit-sum signature; near-dup candidates by
  exact match on 16-bit chunks (hamming-radius banding).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from dbitool_spark.ops.cache import materialize_release


def dedup_exact(df: DataFrame, keys: list[str] | None = None) -> DataFrame:
    """Exact deduplication: one row per distinct key tuple (all
    columns when keys is None). Single hash shuffle on the keys with
    map-side partial dedup — the canonical scale path."""
    return df.dropDuplicates(keys) if keys else df.dropDuplicates()


def dedup_keyed_last_wins(df: DataFrame, key: str, order_by: str | list[str]) -> DataFrame:
    """Keyed last-write-wins (ndb upsert semantics, distributed):
    keep the row with the highest `order_by` per `key` (pass several
    order columns to break ties deterministically). One shuffle on
    the key."""
    if "__rn" in df.columns:
        # the scaffolding claims this name: silently overwriting and
        # dropping a user column is the data-loss mode the repo's
        # reserved-name guards exist for (review finding — the
        # with_position / stream_static_filter precedent)
        raise ValueError(
            "column '__rn' is reserved by dedup_keyed_last_wins' window "
            "scaffolding; rename it on the input frame"
        )
    order_cols = [order_by] if isinstance(order_by, str) else list(order_by)
    w = Window.partitionBy(key).orderBy(*[F.desc(c) for c in order_cols])
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def shingles(text: Column, k: int = 3) -> Column:
    """Distinct word k-shingles of a text column (lowercased,
    whitespace-tokenized). Pure expression — no UDF.

    Shape matters: built by zip_with-ing k shifted views of the word
    array (each lambda is one string concat), not by a per-element
    transform(i -> concat_ws(slice(words, i, k))) — higher-order
    lambdas are interpreted, and the slice form allocates a k-array
    per shingle: measured 12.5s vs 1.7s over the sf0.1 bench corpus.
    The zip_with tail positions null out (concat null-propagates over
    the padded shorter side) and the final slice drops them."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    n = F.size(words)
    grams = words
    for j in range(1, k):
        grams = F.zip_with(
            grams,
            F.slice(words, j + 1, n),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    return F.when(n < k, F.array(F.concat_ws(" ", words))).otherwise(
        F.array_distinct(F.slice(grams, 1, n - F.lit(k - 1)))
    )


def winnow_fingerprints(
    text: Column, k: int = 4, window: int = 5
) -> Column:
    """Winnowing document fingerprints (Schleimer, Wilkerson, Aiken,
    SIGMOD 2003): positional word k-grams, then the minimum gram of
    every width-`window` sliding window, distinct — the local
    fingerprint-selection guarantee (any shared run of window+k-1
    words yields at least one shared fingerprint) with density ~2/(w+1)
    instead of keeping every gram. Returns array<string> per row.

    Cross-engine exactness: the paper selects by a uniform HASH of the
    gram; this implementation selects by the gram's own lexicographic
    order — the same total order DuckDB applies to varchar — so the
    selected set is bit-identical in both engines (the hash only
    de-biases selection density; locality and the shared-run guarantee
    hold for ANY fixed total order, §4 of the paper). Pure expression,
    ZERO shuffle: grams are built by zip_with-ing k shifted views (the
    shingles() shape — no per-element slice allocation) and the
    sliding minimum by least()-folding window-1 shifted views of the
    gram array; the only exchange a caller pays is on the (w+1)/2-
    sparser winnowed set. Docs shorter than one full window keep their
    global-minimum gram (winnowing's every-document guarantee)."""
    words = F.split(F.lower(F.trim(text)), r"\s+")
    n = F.size(words)
    grams = words
    for j in range(1, k):
        grams = F.zip_with(
            grams,
            F.slice(words, j + 1, n),
            lambda x, y: F.concat(x, F.lit(" "), y),
        )
    # positional grams (NOT distinct — winnowing needs positions)
    grams = F.when(n >= k, F.slice(grams, 1, n - F.lit(k - 1))).otherwise(
        F.array().cast("array<string>")
    )
    ng = F.size(grams)
    # sliding min: least() skips the nulls zip_with pads on the
    # shorter (shifted) side, so entry i holds min(grams[i .. i+w-1])
    mins = grams
    for j in range(1, window):
        mins = F.zip_with(
            mins, F.slice(grams, j + 1, ng), lambda x, y: F.least(x, y)
        )
    return (
        F.when(
            ng >= window,
            F.array_distinct(F.slice(mins, 1, ng - F.lit(window - 1))),
        )
        .when(ng >= 1, F.array(F.array_min(grams)))
        .otherwise(F.array().cast("array<string>"))
    )


def edit_distance_pairs(
    df: DataFrame,
    id_col: str,
    name_col: str,
    max_dist: int = 2,
    q: int = 3,
) -> DataFrame:
    """Approximate-string self-join under edit distance <= max_dist
    via q-gram prefix filtering (Gravano et al., VLDB 2001 q-gram
    count/length filters; rarest-first prefix ordering per Xiao et
    al. 2008 Ed-Join), verified by the built-in JVM levenshtein —
    both Spark and DuckDB implement the standard unit-cost
    Wagner-Fischer distance, so the verified values are identical
    cross-engine.

    EXACT (no false negatives) on its domain len(name) >= (d+1)*q,
    enforced by an in-plan filter on BOTH sides: one edit destroys at
    most q of a string's character q-grams, so ED(a,b) <= d implies
    the gram SETS differ by at most d*q types per side; with at least
    d*q + 1 gram types each (the domain bound), the rarest-(d*q + 1)
    prefixes must therefore intersect (prefix lemma), and the
    prefix-keyed inverted-index join generates every qualifying pair.
    The length filter |len_a - len_b| <= d (ED >= length difference)
    prunes candidates before the O(len^2) verify.

    Scale shape: identical to ngram_jaccard_pairs' prefix path — one
    gram-frequency aggregation, one per-id window to rank grams
    rarest-first, a prefix x prefix equi-join on the gram (prefix
    size is the CONSTANT d*q + 1, so candidate volume is bounded by
    sum over prefix grams of df^2 on the SPARSEST grams of each
    string, never the full index), distinct, then per-pair verify.
    Returns (id_a, id_b, dist) with id_a < id_b, dist <= max_dist."""
    d = int(max_dist)
    if d < 1:
        raise ValueError("max_dist must be >= 1 (0 is exact dedup)")
    base = (
        df.select(F.col(id_col).alias("id"), F.col(name_col).alias("name"))
        .filter(F.length("name") >= (d + 1) * q)
        .withColumn("len", F.length("name"))
        .withColumn(
            "grams",
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), F.length("name") - F.lit(q - 1)),
                    lambda i: F.col("name").substr(i, F.lit(q)),
                )
            ),
        )
        .persist()  # feeds the frequency pass AND the prefix ranking
    )
    ix = base.select("id", "len", "name", F.explode("grams").alias("gram"))
    freq = ix.groupBy("gram").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("gram").asc())
    # persisted: the self-join below aliases this plan twice (the
    # jaccard `pref` precedent — exchange reuse stops at the window)
    pref = (
        ix.join(freq, "gram")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= d * q + 1)
        .select("id", "len", "name", "gram")
    ).persist()
    a = pref.select(
        F.col("id").alias("id_a"),
        F.col("len").alias("la"),
        F.col("name").alias("name_a"),
        "gram",
    )
    b = pref.select(
        F.col("id").alias("id_b"),
        F.col("len").alias("lb"),
        F.col("name").alias("name_b"),
        "gram",
    )
    cand = (
        a.join(b, "gram")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.abs(F.col("la") - F.col("lb")) <= d)
        )
        .select("id_a", "name_a", "id_b", "name_b")
        .distinct()
    )
    result = (
        cand.withColumn(
            "dist", F.levenshtein("name_a", "name_b").cast("long")
        )
        .filter(F.col("dist") <= d)
        .select("id_a", "id_b", "dist")
    )
    return materialize_release(result, base, pref)


def _validate_threshold(threshold: float) -> None:
    """The shingle-keyed join construction is exact only for
    threshold > 0 (a qualifying pair must share >= 1 shingle, which
    ceil(t*n) >= 1 guarantees iff t > 0); t = 0 would make every
    disjoint pair qualify while the join can never generate it —
    a silently incomplete result, so reject like the minhash bands
    check does rather than degrade."""
    if not 0.0 < threshold <= 1.0:
        raise ValueError(
            f"threshold must be in (0, 1], got {threshold}: the exact "
            "shingle-join construction requires every qualifying pair "
            "to share at least one shingle"
        )


def minhash_signatures(
    sh: DataFrame, n_hashes: int = 64
) -> DataFrame:
    """(id, sh: array<string>) -> (id, h0..h{n-1}) minhash columns.

    Shape matters: explode the shingle set once and take n_hashes MIN
    aggregates per id. Each shingle is hashed n times but BUILT once —
    expressing this as n array_min(transform(...)) expressions instead
    makes Catalyst re-evaluate the shingle construction per seed
    (measured 140s vs 3s at 1000 docs). The groupBy shuffles one row
    per (id, shingle): map-side partial mins keep the shuffle tiny."""
    exploded = sh.select("id", F.explode("sh").alias("shingle"))
    return exploded.groupBy("id").agg(
        *[
            F.min(F.xxhash64(F.col("shingle"), F.lit(j))).alias(f"h{j}")
            for j in range(n_hashes)
        ]
    )


def minhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 3,
    n_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.7,
) -> DataFrame:
    """Near-duplicate pairs by MinHash-LSH with exact-Jaccard
    verification. Returns (id_a, id_b) with id_a < id_b and
    jaccard >= threshold.

    Scale shape (100 TB): the only joins are (1) the banded
    self-equi-join on (band_index, band_hash) — bucket-local, never
    all-pairs; and (2) two hash joins rejoining shingle sets for the
    exact verify, keyed on the ids. Skewed buckets (e.g. boilerplate
    docs) are AQE skew-split; candidate distinct() dedups band
    collisions before the verify join so each pair verifies once.

    With b bands of r = n_hashes/b rows, P(candidate) = 1-(1-s^r)^b:
    ~1.0 at s=0.9, ~0.17 at s=0.5 for the 16x4 default — the classic
    S-curve centered near s ~ (1/b)^(1/r) ~ 0.5.
    """
    rows = n_hashes // bands
    if rows * bands != n_hashes:
        raise ValueError("bands must divide n_hashes")
    # shingle sets are reused by the signature pass and both sides of
    # the verify join — persist so the text is shingled exactly once
    sh = df.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), shingle_k).alias("sh")
    ).persist()
    sig = minhash_signatures(sh, n_hashes)
    banded = sig.select(
        "id",
        F.posexplode(
            F.array(
                *[
                    F.xxhash64(*[F.col(f"h{b * rows + r}") for r in range(rows)])
                    for b in range(bands)
                ]
            )
        ).alias("band", "bh"),
    )
    # the band table feeds both sides of the self-join; without a
    # persist Catalyst re-runs the whole signature aggregation per
    # side (no exchange reuse across aliases). b longs/doc — cheap to
    # materialize at any corpus size.
    banded = banded.persist()
    left = banded.alias("l")
    right = banded.alias("r")
    candidates = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("id_a"), F.col("r.id").alias("id_b"))
        .distinct()
    )
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    verified = (
        candidates.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    result = verified.select("id_a", "id_b", "jaccard")
    # eagerly materialize the (small) pair set and release the two
    # persisted intermediates so repeated calls in a long session do
    # not accumulate executor storage
    return materialize_release(result, sh, banded)


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
    hash_shingles: bool = True,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs via an inverted shingle
    index. Unlike MinHash-LSH there is no probabilistic recall: any
    pair with jaccard >= threshold > 0 shares at least one shingle,
    so the shingle-keyed self-join loses nothing.

    Scale shape (100 TB): explode once, self-join keyed on the
    shingle (shuffle on shingle — never all-pairs), count shared
    shingles per pair with map-side partial aggregation, then the
    closed form |A∩B| / (|A| + |B| - |A∩B|). The join fan-out is
    sum(df_s^2) over shingle doc-frequencies df_s — near-linear on
    natural text, quadratic only on stop-shingles; `max_doc_freq`
    drops shingles appearing in more than that many docs (the classic
    skew guard). It is OFF by default because it trades exactness for
    bounded fan-out: pairs sharing only stop-shingles are missed.

    Two exact plans, selected by `max_doc_freq`:

    - base path (max_doc_freq None): PREFIX-FILTERED index — the
      set-similarity-join construction of Vernica/Carey/Li (SIGMOD'10)
      / PPJoin (Xiao et al., WWW'08). Shingles get a global total
      order (ascending doc-frequency, ties by value), and each doc
      indexes only its first |S| - ceil(t*|S|) + 1 shingles in that
      order: any pair with jaccard >= t has overlap >= ceil(t*|S|) on
      EACH side, so by the prefix lemma their indexed prefixes must
      intersect — candidate generation loses nothing. Because the
      order is rarest-first, stop-shingles fall OUT of prefixes and
      the join fan-out shrinks ~9x on the sf0.1 bench corpus (11M ->
      1.2M — this synthetic corpus is unusually shingle-dense; natural
      text collapses much further). Candidates are then verified on
      the persisted per-doc shingle arrays with the closed-form union
      |A∪B| = na + nb - |A∩B| (no array_union pass). This is also the
      shape that makes the op self-hardening against skew at 100 TB:
      the quadratic term sum(df^2) runs over prefix frequencies, not
      raw frequencies. Relative cost (driver bench, sf0.1): ~0.65x the
      plain inverted-index count-by-join plan, which in turn cost
      ~1/6 of an all-pairs verify. (Point timings vary ~1.5x with host
      load, so only ratios are quoted here.)
    - skew-guard path (max_doc_freq set): the plain inverted-index
      plan — shingles above the df cap are DROPPED from the
      intersection count entirely (bounded fan-out, approximate by
      design, oracle-mirrored in the skewguard query).

    `hash_shingles` (default) runs the whole pipeline on
    xxhash64(shingle) longs — index keys AND the verification arrays
    (bigint array_intersect measured ~2.5x faster than ~25-byte
    strings over 1.2M candidate pairs). Exact up to 64-bit collisions:
    P(any collision among S distinct shingles) ~ S^2/2^65, negligible
    below ~10^8 shingles (the inverted-index plan carried the same
    exposure on its join-counted intersections). Pass False for
    bit-exact string processing end to end.

    Time this query cold: a plan-identical shingle table left
    persisted by an earlier minhash call is silently reused by the
    CacheManager and flatters the number. Cold, the plan before the
    inverted index cost ~6x the index plan, and this prefix-filtered
    plan costs ~0.65x of it.

    Returns (id_a, id_b, jaccard) with id_a < id_b.
    """
    _validate_threshold(threshold)
    # one row per doc — persisted so the interpreted zip_with shingle
    # build runs once across index construction, frequency pass, and
    # verification; released on return via materialize_release
    sh = df.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), shingle_k).alias("sh")
    ).withColumn("n", F.size("sh"))
    if hash_shingles:
        # hash once per doc; the whole downstream pipeline (index,
        # prefixes, verification arrays) runs on bigints
        sh = sh.withColumn("sh", F.transform(F.col("sh"), lambda s: F.xxhash64(s)))
    sh = sh.persist()
    ix = sh.select("id", "n", F.explode("sh").alias("shingle"))
    t = F.lit(threshold)
    freq = ix.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    if max_doc_freq is None:
        # --- prefix-filtered exact path ---
        # global rarest-first order; row_number gives each doc its
        # shingles ranked by that order (one shuffle on id)
        w = Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("shingle").asc())
        # required overlap on each side: ceil(t*n), with an epsilon so
        # double rounding (e.g. 0.7*10 -> 7.0000000000000001 -> ceil 8)
        # can only LENGTHEN the prefix, never shorten it (shorter =
        # potential false negatives)
        prefix_len = F.col("n") - F.ceil(t * F.col("n") - F.lit(1e-9)) + 1
        # persisted: a/b below are two ALIASES of this plan, and
        # Catalyst's exchange reuse only covers the shuffle below the
        # window — without the persist the freq join + per-doc window
        # sort + prefix filter execute once per self-join side (the
        # same re-run-per-alias cost `sh` and simhash's `sig` persists
        # exist to avoid); released via materialize_release on return
        pref = (
            ix.join(freq, "shingle")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= prefix_len)
            .select("id", "n", "shingle")
        ).persist()
        a = pref.select(F.col("id").alias("id_a"), F.col("n").alias("na"), "shingle")
        b = pref.select(F.col("id").alias("id_b"), F.col("n").alias("nb"), "shingle")
        # length-ratio prune with the SAME epsilon as prefix_len: for
        # non-dyadic thresholds double rounding can push t*nb above an
        # integer it equals in exact arithmetic (0.7*10 ->
        # 7.0000000000000007), silently dropping a borderline pair the
        # final jaccard >= t filter would keep — a false negative in a
        # path documented exact. The epsilon only loosens the prune;
        # the exact jaccard verify downstream still decides membership.
        cand = (
            a.join(b, "shingle")
            .filter(
                (F.col("id_a") < F.col("id_b"))
                & (F.col("na") >= t * F.col("nb") - F.lit(1e-9))
                & (F.col("nb") >= t * F.col("na") - F.lit(1e-9))
            )
            .select("id_a", "na", "id_b", "nb")
            .distinct()
        )
        va = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
        vb = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
        result = (
            cand.join(va, "id_a")
            .join(vb, "id_b")
            .withColumn("li", F.size(F.array_intersect("sh_a", "sh_b")))
            .withColumn(
                "jaccard", F.col("li") / (F.col("na") + F.col("nb") - F.col("li"))
            )
            .filter(F.col("jaccard") >= threshold)
            .select("id_a", "id_b", "jaccard")
        )
        return materialize_release(result, sh, pref)
    # --- skew-guard path (df-capped inverted index) ---
    # persisted for the same two-aliases reason as `pref` above: the
    # freq join would otherwise run once per self-join side
    ix = ix.join(
        freq.filter(F.col("df") <= max_doc_freq).select("shingle"), "shingle"
    ).persist()
    a = ix.select(F.col("id").alias("id_a"), F.col("n").alias("na"), "shingle")
    b = ix.select(F.col("id").alias("id_b"), F.col("n").alias("nb"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(
            # epsilon-loosened length prune — same rationale as the
            # prefix path above (exact jaccard filter decides below)
            (F.col("id_a") < F.col("id_b"))
            & (F.col("na") >= t * F.col("nb") - F.lit(1e-9))
            & (F.col("nb") >= t * F.col("na") - F.lit(1e-9))
        )
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("li"))
    )
    result = (
        inter.withColumn(
            "jaccard", F.col("li") / (F.col("na") + F.col("nb") - F.col("li"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return materialize_release(result, sh, ix)


def ngram_jaccard_pairs_variants(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int,
    hash_shingles: bool = True,
) -> DataFrame:
    """BOTH ngram_jaccard_pairs plans — the prefix-filtered exact path
    (variant='exact') and the df-capped skew-guard path
    (variant='skewguard', cap = max_doc_freq) — off ONE shared shingle
    pass. Returns (variant, id_a, id_b, jaccard).

    Row-for-row identical to running ngram_jaccard_pairs twice (the
    candidate joins, prunes, epsilons and verify arithmetic below are
    the operator's expressions verbatim; the variants-tagged union is
    what ngram_jaccard_variants_documents built from two standalone
    calls): only the REDUNDANT work is removed (guide §1.2/§2.3 —
    don't compute things twice). Shared across the legs:

    - `sh` (the interpreted zip_with shingle build + per-doc xxhash64
      transform) — previously built, persisted and materialized once
      PER VARIANT CALL;
    - `ix` (the explode) and `freq` (the doc-frequency aggregation) —
      previously one aggregation per call; `freq` is persisted here
      because the exact leg's prefix ranking and the skew leg's df cap
      are now two consumers of one plan;
    - the eager materialization: ONE localCheckpoint of the tagged
      union instead of two, so the two legs' candidate joins execute
      as independent stages of one job (scheduler overlap) instead of
      two sequential actions.

    Measured (sf0.1, 5-run medians, isolated): 3.43s as two standalone
    calls -> see OPTIMIZATION_r16.md for the post-change number."""
    _validate_threshold(threshold)
    if max_doc_freq is None:
        raise ValueError(
            "max_doc_freq is required: the skewguard leg is undefined "
            "without a df cap (use ngram_jaccard_pairs for exact-only)"
        )
    sh = df.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), shingle_k).alias("sh")
    ).withColumn("n", F.size("sh"))
    if hash_shingles:
        sh = sh.withColumn("sh", F.transform(F.col("sh"), lambda s: F.xxhash64(s)))
    sh = sh.persist()
    ix = sh.select("id", "n", F.explode("sh").alias("shingle"))
    t = F.lit(threshold)
    # two consumers (prefix ranking + df cap) — persist, released below
    freq = ix.groupBy("shingle").agg(F.count(F.lit(1)).alias("df")).persist()
    # --- exact leg: ngram_jaccard_pairs' prefix-filtered path verbatim
    w = Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("shingle").asc())
    prefix_len = F.col("n") - F.ceil(t * F.col("n") - F.lit(1e-9)) + 1
    pref = (
        ix.join(freq, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select("id", "n", "shingle")
    ).persist()
    a = pref.select(F.col("id").alias("id_a"), F.col("n").alias("na"), "shingle")
    b = pref.select(F.col("id").alias("id_b"), F.col("n").alias("nb"), "shingle")
    cand = (
        a.join(b, "shingle")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("na") >= t * F.col("nb") - F.lit(1e-9))
            & (F.col("nb") >= t * F.col("na") - F.lit(1e-9))
        )
        .select("id_a", "na", "id_b", "nb")
        .distinct()
    )
    va = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    vb = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    exact = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("li", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn(
            "jaccard", F.col("li") / (F.col("na") + F.col("nb") - F.col("li"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    # --- skewguard leg: the df-capped inverted-index path verbatim
    gx = ix.join(
        freq.filter(F.col("df") <= max_doc_freq).select("shingle"), "shingle"
    ).persist()
    ga = gx.select(F.col("id").alias("id_a"), F.col("n").alias("na"), "shingle")
    gb = gx.select(F.col("id").alias("id_b"), F.col("n").alias("nb"), "shingle")
    inter = (
        ga.join(gb, "shingle")
        .filter(
            (F.col("id_a") < F.col("id_b"))
            & (F.col("na") >= t * F.col("nb") - F.lit(1e-9))
            & (F.col("nb") >= t * F.col("na") - F.lit(1e-9))
        )
        .groupBy("id_a", "id_b", "na", "nb")
        .agg(F.count(F.lit(1)).alias("li"))
    )
    guarded = (
        inter.withColumn(
            "jaccard", F.col("li") / (F.col("na") + F.col("nb") - F.col("li"))
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    result = exact.select(F.lit("exact").alias("variant"), "*").unionByName(
        guarded.select(F.lit("skewguard").alias("variant"), "*")
    )
    return materialize_release(result, sh, freq, pref, gx)


def ngram_containment_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 3,
    threshold: float = 0.9,
    hash_shingles: bool = True,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """EXACT asymmetric n-gram containment pairs: C(A->B) =
    |shingles(A) ∩ shingles(B)| / |shingles(A)| — the Broder
    containment measure. This catches the subset-duplicates Jaccard
    structurally misses: a short document quoted whole inside a long
    one has jaccard ~ |A|/|B| (arbitrarily small) but containment 1.0.
    Returns ORDERED (id_a, id_b, containment) with id_a != id_b and
    containment >= threshold; both directions are evaluated.

    Scale shape (100 TB): the prefix filter applies on the CONTAINED
    side only — C(A->B) >= t forces overlap >= ceil(t*|A|), so by the
    prefix lemma A's rarest |A| - ceil(t*|A|) + 1 shingles must
    intersect B's FULL shingle set; B admits no prefix bound (the
    shared shingles may sit anywhere in B's frequency order). The join
    is therefore prefix(A) x full-index(B) keyed on the shingle — the
    asymmetric Vernica/Carey/Li construction — with the one valid
    length prune |B| >= t*|A| (B must hold the overlap), then exact
    verification on the persisted per-doc arrays. Fan-out is
    sum_s(prefix_df_s * df_s): strictly below the symmetric join's
    sum(df^2) because rarest-first prefixes exclude stop-shingles
    from the probe side. Same epsilon discipline as
    ngram_jaccard_pairs: rounding may only lengthen prefixes / loosen
    prunes; the exact containment filter decides membership.
    `hash_shingles` as in ngram_jaccard_pairs (xxhash64 longs
    end-to-end, ~2^-65 pairwise collision odds).

    `max_doc_freq` is the skew guard with the SAME contract as
    ngram_jaccard_pairs': shingles appearing in more than that many
    docs are dropped from the B-side index (the full-index side is
    where a stop-shingle's fan-out lives here — prefix_df_s * df_s
    explodes through df_s). Approximate by design, and the miss set
    is wider than "pairs whose entire overlap is capped": a pair is
    lost whenever prefix(A) ∩ kept(B) is empty, which can happen as
    soon as ONE capped shingle displaces the only prefix shingle the
    pair shares — even if most of the overlap is uncapped (A's prefix
    is its rarest shingles, but "rare" is relative to A; all of them
    may still exceed the cap). Verification still counts ALL shared
    shingles for survivors (the guard bounds candidate generation,
    not the reported value). OFF by default for exactness."""
    _validate_threshold(threshold)
    sh = df.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), shingle_k).alias("sh")
    ).withColumn("n", F.size("sh"))
    if hash_shingles:
        sh = sh.withColumn("sh", F.transform(F.col("sh"), lambda s: F.xxhash64(s)))
    sh = sh.persist()
    ix = sh.select("id", "n", F.explode("sh").alias("shingle"))
    t = F.lit(threshold)
    freq = ix.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("id").orderBy(F.col("df").asc(), F.col("shingle").asc())
    prefix_len = F.col("n") - F.ceil(t * F.col("n") - F.lit(1e-9)) + 1
    pref_a = (
        ix.join(freq, "shingle")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= prefix_len)
        .select(F.col("id").alias("id_a"), F.col("n").alias("na"), "shingle")
    )
    full_b = ix.select(F.col("id").alias("id_b"), F.col("n").alias("nb"), "shingle")
    if max_doc_freq is not None:
        full_b = full_b.join(
            freq.filter(F.col("df") <= max_doc_freq).select("shingle"), "shingle"
        )
    cand = (
        pref_a.join(full_b, "shingle")
        .filter(
            (F.col("id_a") != F.col("id_b"))
            & (F.col("nb") >= t * F.col("na") - F.lit(1e-9))
        )
        .select("id_a", "na", "id_b")
        .distinct()
    )
    va = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    vb = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    result = (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn(
            "containment",
            F.size(F.array_intersect("sh_a", "sh_b")) / F.col("na"),
        )
        .filter(F.col("containment") >= threshold)
        .select("id_a", "id_b", "containment")
    )
    return materialize_release(result, sh)


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    pairs: DataFrame,
    shingle_k: int = 3,
) -> DataFrame:
    """Exact word-shingle Jaccard for given (id_a, id_b) pairs —
    the ground-truth verifier used to test LSH recall.

    The result is eagerly localCheckpointed and the internal shingle
    persist released before returning, so callers that just collect
    cannot leak executor cache."""
    # persisted: both join sides alias the same shingle plan, and
    # Catalyst does not reuse exchanges across self-join aliases — the
    # dominant shingle construction would run twice per evaluation
    sh = df.select(
        F.col(id_col).alias("id"), shingles(F.col(text_col), shingle_k).alias("sh")
    ).persist()
    a = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"))
    b = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"))
    result = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .withColumn(
            "jaccard",
            F.size(F.array_intersect("sh_a", "sh_b"))
            / F.size(F.array_union("sh_a", "sh_b")),
        )
        .select("id_a", "id_b", "jaccard")
    )
    return materialize_release(result, sh)


def _star_components(edges: DataFrame, max_iter: int) -> DataFrame:
    """Alternating large-star/small-star rounds (Kiveris et al. 2014)
    over a both-directions edge frame (src, dst). Each round:

    - large-star: per node u, m = min(N(u) + {u}); rewire every
      LARGER neighbor v > u to m — long tails fold toward minima;
    - small-star: orient edges large->small, per node u rewire all
      smaller neighbors AND u itself to m = min(N(u) + {u}) — stars
      flatten to their centers.

    Converged when a round leaves the canonical edge set unchanged;
    at that point every component is a star centered at its minimum,
    so labels read straight off the (larger -> smaller) edges. The
    symmetric-difference convergence probe is two anti-joins on the
    checkpointed edge sets — O(|E|) with no driver data movement."""
    # canonical undirected form (big, small), one row per edge
    cur = (
        edges.filter(F.col("src") > F.col("dst"))
        .select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        both = cur.unionAll(cur.select(F.col("v").alias("u"), F.col("u").alias("v")))
        # large-star: m(u) = min over {u} + neighbors; rewire v > u
        m_large = (
            both.groupBy("u")
            .agg(F.min("v").alias("mn"))
            .select("u", F.least("u", "mn").alias("m"))
        )
        large = (
            both.join(m_large, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        # small-star on the large-star output (edges already u > v)
        e = (
            large.select(
                F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
            )
            .filter(F.col("u") != F.col("v"))
            .distinct()
        )
        m_small = e.groupBy("u").agg(F.min("v").alias("m"))
        nxt = (
            e.join(m_small, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .unionAll(m_small.select("u", F.col("m").alias("v")))
            .select(F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        changed = (
            nxt.join(cur, ["u", "v"], "left_anti")
            .unionAll(cur.join(nxt, ["u", "v"], "left_anti"))
            .count()
        )
        cur = nxt
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"star connected_components did not converge in {max_iter} rounds"
        )
    # stars: every edge is (member u -> center v); centers label themselves
    labels = cur.select(F.col("u").alias("id"), F.col("v").alias("cluster_id")).unionAll(
        cur.select(F.col("v").alias("id"), F.col("v").alias("cluster_id")).distinct()
    )
    # nodes whose only edges were self-loops vanish from the canonical
    # (u > v) edge set; re-add them as singletons so the output matches
    # flood/union-find ("every id appearing in a pair")
    nodes = edges.select(F.col("src").alias("id")).distinct()
    singletons = nodes.join(labels, "id", "left_anti").select(
        "id", F.col("id").alias("cluster_id")
    )
    return labels.unionAll(singletons)


def connected_components(
    pairs: DataFrame,
    *,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
    local_edge_threshold: int | None = 1_000_000,
    algorithm: str = "flood",
) -> DataFrame:
    """Connected components over a near-dup pair graph: (id,
    cluster_id) for every id appearing in a pair, cluster_id = the
    minimum id of its component. This is the step that turns pairwise
    near-dup output into corpus dedup decisions (keep one doc per
    cluster — see dedup_keep_representative).

    Algorithm: min-label flooding — each iteration every node takes
    min(own label, neighbors' labels); converges in O(graph diameter)
    iterations. Near-dup graphs are dense clusters of mutually-similar
    docs, so the diameter is tiny (single digits); the driver loop
    only ever moves a per-iteration changed-count, and each iteration
    is two shuffles on the node id. Labels are localCheckpoint-ed per
    iteration, so lineage stays flat. For adversarially long chain
    graphs (diameter ~ n) this cap raises rather than looping —
    pass algorithm="star" for those.

    algorithm="star": alternating large-star/small-star (Kiveris et
    al. 2014, "Connected Components in MapReduce and Beyond") —
    converges in O(log^2 n) rounds on ANY graph shape, including
    diameter-n chains the flooding cap rejects. Each round is two
    grouped min-aggregations + edge rewrites (2 shuffles), same
    per-round cost as flooding; flooding stays the default because
    near-dup graphs are dense low-diameter clusters where it
    converges in fewer rounds and the labels are identical.

    Small graphs skip the loop entirely: when the (deduped) edge
    count is <= local_edge_threshold, a driver-side union-find
    labels the graph in one pass — a documented bounded edge in the
    engine's memorylimit convention (1M edges ~ 16 MB on the driver),
    worth it because each distributed iteration costs 2 shuffles + a
    count action regardless of size. Set local_edge_threshold=None to
    force the distributed path.
    """
    if algorithm not in ("flood", "star"):
        raise ValueError(f"algorithm must be 'flood' or 'star', got {algorithm!r}")
    ta, tb = pairs.schema[id_a].dataType, pairs.schema[id_b].dataType
    if ta != tb:
        # heterogeneous endpoints would give the union-find fast path a
        # wrong cluster_id schema (and Python-compare apples to oranges)
        raise TypeError(
            f"pair endpoint types differ: {id_a}={ta.simpleString()} vs "
            f"{id_b}={tb.simpleString()}; cast them to a common type first"
        )
    # a NULL endpoint carries no edge semantics; dropping the row up
    # front keeps the two paths agreeing (the distributed join would
    # never match it, while Python's `<` would raise on None)
    pairs = pairs.filter(F.col(id_a).isNotNull() & F.col(id_b).isNotNull())
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionAll(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist()
    )
    if local_edge_threshold is not None:
        # edges holds BOTH directions (2 rows per undirected pair): the
        # threshold is documented in undirected edges, so halve the row
        # count before comparing (review finding — callers sizing for N
        # edges were getting the fast path only to N/2; driver memory
        # is ~Row + dict-entry overhead per edge, not 16 bytes, which
        # is why the default stays well under available driver heap).
        # Self-loops survive distinct() as ONE row, so they'd make the
        # halved count undercount — they carry no component information
        # and no sizing weight, so exclude them from the threshold
        # comparison (the component OUTPUT still includes them either
        # way: both paths emit a self-loop-only node as its own root)
        n_edges = edges.filter(F.col("src") != F.col("dst")).count() // 2
        if n_edges <= local_edge_threshold:
            try:
                parent: dict = {}

                def find(x):
                    root = x
                    while parent[root] != root:
                        root = parent[root]
                    while parent[x] != root:  # path compression
                        parent[x], x = root, parent[x]
                    return root

                # collect, not toLocalIterator: the latter fetches one
                # partition per job (32 sequential job waves here); the
                # edge list is bounded by the threshold, so one fetch
                for r in edges.collect():
                    s, d = r[0], r[1]
                    parent.setdefault(s, s)
                    parent.setdefault(d, d)
                    rs, rd = find(s), find(d)
                    if rs != rd:
                        # union by min so the representative is the
                        # component minimum (same labels as the loop)
                        if rd < rs:
                            rs, rd = rd, rs
                        parent[rd] = rs
                from pyspark.sql.types import StructField, StructType

                id_type = pairs.schema[id_a].dataType
                labels = [(n, find(n)) for n in parent]
                return pairs.sparkSession.createDataFrame(
                    labels,
                    StructType(
                        [
                            StructField("id", id_type),
                            StructField("cluster_id", id_type),
                        ]
                    ),
                )
            finally:
                edges.unpersist(blocking=True)
    if algorithm == "star":
        try:
            return _star_components(edges, max_iter)
        finally:
            edges.unpersist(blocking=True)
    labels = (
        edges.select("src")
        .distinct()
        .withColumn("label", F.col("src"))
        .localCheckpoint(eager=True)
    )
    try:
        for _ in range(max_iter):
            nbr = (
                edges.join(
                    labels.select(
                        F.col("src").alias("nid"), F.col("label").alias("nlabel")
                    ),
                    F.col("dst") == F.col("nid"),
                )
                .groupBy("src")
                .agg(F.min("nlabel").alias("nbr_min"))
            )
            new_labels = (
                labels.join(nbr, "src", "left")
                .select(
                    "src",
                    F.least(
                        F.col("label"), F.coalesce(F.col("nbr_min"), F.col("label"))
                    ).alias("label"),
                )
                .localCheckpoint(eager=True)
            )
            changed = (
                new_labels.alias("n")
                .join(labels.alias("o"), "src")
                .filter(F.col("n.label") != F.col("o.label"))
                .count()
            )
            labels = new_labels
            if changed == 0:
                break
        else:
            raise RuntimeError(
                f"connected_components did not converge in {max_iter} "
                "iterations — graph diameter exceeds the cap"
            )
    finally:
        edges.unpersist(blocking=True)
    return labels.select(F.col("src").alias("id"), F.col("label").alias("cluster_id"))


def dedup_keep_representative(
    df: DataFrame, pairs: DataFrame, id_col: str, **cc_kwargs
) -> DataFrame:
    """Corpus-level near-dup dedup: keep exactly one document per
    near-dup cluster (the minimum id — deterministic) plus every
    unpaired document. One anti-join on the id against the set of
    non-representative cluster members."""
    drop = (
        connected_components(pairs, **cc_kwargs)
        .filter(F.col("id") != F.col("cluster_id"))
        .select(F.col("id").alias(id_col))
    )
    return df.join(drop, id_col, "left_anti")


def simhash_signatures(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, sig) 64-bit SimHash per document: each distinct word's
    xxhash64 votes +1/-1 per bit position; signature bit = sign of the
    vote sum. Explode + 64 SUM aggregates (same shape rationale as
    minhash_signatures: hash each word once, let map-side partial
    aggregation carry the 64 counters through one shuffle)."""
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(F.split(F.lower(F.trim(F.col(text_col))), r"\s+"))
        ).alias("w"),
    ).withColumn("wh", F.xxhash64("w"))
    # bit extraction is & 1, NOT % 2: shiftrightunsigned(wh, 0) leaves
    # a negative hash negative and Spark's Remainder keeps the
    # dividend's sign, so (wh >>> 0) % 2 voted -3 for negative-odd
    # hashes — bit 0 of nearly every signature was forced to 0 and
    # block 0 of the banding lost a bit of precision (review finding,
    # verified on live Spark; bits >= 1 were unaffected because the
    # shift makes the value non-negative)
    votes = words.groupBy("id").agg(
        *[
            F.sum(
                (
                    F.shiftrightunsigned(F.col("wh"), i).bitwiseAND(F.lit(1))
                ).cast("int")
                * 2
                - 1
            ).alias(f"b{i}")
            for i in range(64)
        ]
    )
    # pack sign bits; bit 63 carries the sign, its place value is -2^63
    packed = F.lit(0).cast("bigint")
    for i in range(64):
        place = -(1 << 63) if i == 63 else (1 << i)
        packed = packed + F.when(
            F.col(f"b{i}") > 0, F.lit(place).cast("bigint")
        ).otherwise(F.lit(0).cast("bigint"))
    return votes.select("id", packed.alias("sig"))


def _validate_simhash_banding(n_blocks: int, bits_per_block: int) -> None:
    if n_blocks < 1 or bits_per_block < 1 or n_blocks * bits_per_block > 64:
        raise ValueError(
            f"invalid banding: need n_blocks*bits_per_block <= 64, got "
            f"{n_blocks}x{bits_per_block}"
        )


def simhash_candidates(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n_blocks: int = 4,
    bits_per_block: int = 16,
    max_hamming: int | None = None,
) -> DataFrame:
    """Near-dup candidate pairs by SimHash block banding (the Manku
    block-permutation construction, Manku/Jain/Sarma WWW'07): the
    64-bit signature splits into `n_blocks` disjoint blocks of
    `bits_per_block` bits; two docs are candidates iff any block
    matches exactly. Bucket join, never all-pairs.

    Tuning math (the knobs that keep this sub-quadratic at scale):
    - recall: any pair at hamming distance <= n_blocks - 1 shares an
      untouched block (pigeonhole), so it is GUARANTEED a candidate;
      more-distant pairs collide only probabilistically.
    - precision / candidate volume: expected RANDOM collisions per
      block ~ n^2 / 2^(bits_per_block+1), summed over blocks — the
      quantity that goes quadratic if the block is too narrow. The
      4x16 default gives 4n^2/2^17: fine to ~10^7 docs. At 10^8-10^9
      docs use fewer, wider blocks (3x21 ~ n^2/2^21 per block at
      hamming <= 2 guaranteed; 2x32 at hamming <= 1), or widen the
      signature beyond 64 bits and keep more blocks — narrow-radius
      guarantees are the price of bounded candidate volume.

    Requires n_blocks * bits_per_block <= 64 (blocks beyond the
    covered range would be degenerate); defaults cover all 64 bits.

    `max_hamming` filters candidates to hamming <= max_hamming BEFORE
    the eager materialization below — callers that only want pairs
    within a radius (the common near-dup use) should pass it rather
    than filtering the returned frame: the unfiltered candidate set is
    ~10^5-10^6 rows at sf0.1 and checkpointing all of it only to
    discard >90% afterwards measured 3x slower end-to-end. The
    pigeonhole recall guarantee is unaffected for any max_hamming >=
    n_blocks - 1: every guaranteed pair is at hamming <= n_blocks - 1
    and survives the filter.

    The signature table is persisted across the self-join (Catalyst
    does not reuse the exchange across self-join aliases) and
    released before returning — the result is eagerly materialized
    (ops.cache.materialize_release) so repeated calls do not
    accumulate executor storage. Banding params are validated BEFORE
    the persist: a post-persist raise would leave the signature plan
    registered in the CacheManager with no release point, and any
    later plan-identical signature subplan would silently materialize
    through the orphaned entry and flatter its timing."""
    _validate_simhash_banding(n_blocks, bits_per_block)
    sig = simhash_signatures(df, id_col, text_col).persist()
    result = simhash_band_candidates(
        sig, n_blocks=n_blocks, bits_per_block=bits_per_block, max_hamming=max_hamming
    )
    return materialize_release(result, sig)


def simhash_band_candidates(
    sig: DataFrame,
    *,
    n_blocks: int = 4,
    bits_per_block: int = 16,
    max_hamming: int | None = None,
) -> DataFrame:
    """Band join over PRECOMPUTED (id, sig) signatures — the self-join
    half of simhash_candidates, factored out so callers that also need
    the raw signatures (e.g. the recall companion's ground-truth pass)
    compute them ONCE: the signature aggregation is the dominant cost
    (64 SUMs over the exploded word stream) and feeding this from an
    unpersisted plan would re-run it per self-join side. Pass a
    persisted `sig`; the caller owns its release."""
    _validate_simhash_banding(n_blocks, bits_per_block)
    mask = (1 << bits_per_block) - 1
    chunks = sig.select(
        "id",
        "sig",
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(
                        F.col("sig"), bits_per_block * c
                    ).bitwiseAND(F.lit(mask))
                    for c in range(n_blocks)
                ]
            )
        ).alias("chunk", "ch"),
    )
    left, right = chunks.alias("l"), chunks.alias("r")
    # hamming is computed join-side and (when max_hamming is set)
    # filtered BEFORE the distinct: the radius filter typically drops
    # >90% of raw band collisions, so it both shrinks the distinct's
    # shuffle and keeps any downstream eager materialization
    # proportional to the pairs the caller actually wants
    result = (
        left.join(
            right,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.ch") == F.col("r.ch"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(
            F.col("l.id").alias("id_a"),
            F.col("r.id").alias("id_b"),
            F.bit_count(F.col("l.sig").bitwiseXOR(F.col("r.sig"))).alias("hamming"),
        )
    )
    if max_hamming is not None:
        result = result.filter(F.col("hamming") <= max_hamming)
    # (id_a, id_b) determines hamming, so distinct over the 3 columns
    # dedupes multi-block collisions exactly as the pair-distinct did
    return result.distinct()


# --- streaming-shaped LSH: per-row band hashes ------------------------


def _hash_with_seed(seed: int):
    # closure factory, NOT `lambda s, i=seed: ...` — pyspark counts a
    # lambda's parameters to decide between (element) and
    # (element, index) higher-order signatures, and a defaulted second
    # parameter would silently flip the meaning
    return lambda s: F.xxhash64(s, F.lit(seed))


def minhash_band_structs(
    shingle_col: Column, *, n_hashes: int = 16, bands: int = 8
) -> Column:
    """MinHash band hashes as a PURE per-row expression:
    array<struct<band:int, bh:long>> with one struct per band, where
    bh = xxhash64 over that band's minhash signature slice.

    No aggregation, no UDF — sig_i = array_min(transform(shingles,
    xxhash64(., seed_i))) runs element-wise inside codegen. That
    per-row shape is what makes the construction legal mid-stream: a
    streaming plan admits no groupBy between the source and a stateful
    sink, so the batch ops' explode->groupBy(min) signature build
    cannot be reused there. Two docs are LSH candidates iff they share
    any (band, bh) — identical banding math to the batch operator
    (Broder resemblance / banding, as in minhash_near_dup_pairs)."""
    if n_hashes % bands:
        raise ValueError(f"n_hashes={n_hashes} not divisible by bands={bands}")
    r = n_hashes // bands
    sigs = [
        F.array_min(F.transform(shingle_col, _hash_with_seed(i)))
        for i in range(n_hashes)
    ]
    return F.array(
        *[
            F.struct(
                F.lit(b).cast("int").alias("band"),
                F.xxhash64(F.lit(b), *sigs[b * r : (b + 1) * r]).alias("bh"),
            )
            for b in range(bands)
        ]
    )


def lsh_bucket_rows(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 3,
    n_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """(id, bucket) rows — one per (doc, band) — where bucket is the
    string key 'band:bandhash'. The shared projection both the
    streaming index (streaming.stream_near_dup_lsh) and the batch
    reference rule (lsh_near_dup_flags) are built from, so the two
    paths can never use different hashes. Shingles are projected once
    (a named column, not a repeated subtree) before the n_hashes
    transforms."""
    sh = shingles(F.col(text_col), k=shingle_k)
    return (
        df.select(F.col(id_col).alias("id"), sh.alias("__sh"))
        .select(
            "id",
            F.explode(
                minhash_band_structs(F.col("__sh"), n_hashes=n_hashes, bands=bands)
            ).alias("b"),
        )
        .select(
            "id", F.concat_ws(":", F.col("b.band"), F.col("b.bh")).alias("bucket")
        )
    )


def lsh_flags_from_buckets(buckets: DataFrame, owners: DataFrame) -> DataFrame:
    """(id, is_dup) from precomputed (id, bucket) rows and a
    (bucket, owner) table: dup iff ANY of the doc's buckets has an
    owner smaller than the doc's id. The ONE flag rule — the batch
    reference (owners = bucket minima) and the streamed-index check
    (owners = the ndb table) both call this, so they cannot drift.
    A doc whose every bucket is missing from `owners` flags NULL
    (caught as a mismatch by the parity entry, never silently False)."""
    return (
        buckets.join(owners, "bucket", "left")
        .groupBy("id")
        .agg(
            F.max((F.col("id") > F.col("owner")).cast("int"))
            .cast("boolean")
            .alias("is_dup")
        )
    )


def lsh_near_dup_flags(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    shingle_k: int = 3,
    n_hashes: int = 16,
    bands: int = 8,
) -> DataFrame:
    """Batch reference rule for streaming LSH dedup: a doc is flagged
    iff it shares any band bucket with a SMALLER id (bucket owner =
    min id — the order-insensitive formulation the streamed index
    converges to). Returns (id_col, is_dup).

    Scale shape: one explode to |docs|*bands rows, a bucket-keyed
    partial-agg min joined back on the same key (co-partitioned — the
    exchange is reused), one per-doc partial-agg max — never
    all-pairs."""
    b = lsh_bucket_rows(
        df, id_col, text_col, shingle_k=shingle_k, n_hashes=n_hashes, bands=bands
    )
    owners = b.groupBy("bucket").agg(F.min("id").alias("owner"))
    return lsh_flags_from_buckets(b, owners).select(
        F.col("id").alias(id_col), "is_dup"
    )
