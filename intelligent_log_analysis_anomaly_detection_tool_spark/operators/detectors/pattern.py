"""A9-A11 PatternAnalyzer: n-gram sequence mining over a 10-event sliding
window, novel-pattern anomalies.

Reference semantics (/root/reference/src/analysis/PatternAnalyzer.cpp):

- event signature (:176-206): ``source:level_int:prefix`` where prefix is the
  first 3 single-space tokens of the message (each trimmed, empties dropped)
  joined by ' '; sequence signature joins elements with "->" truncating each
  element's prefix to 20 chars
- per event (:42-72): regenerate ALL contiguous n-grams (len 2..min(10,win))
  of the 10-event sliding window and increment each — overlapping re-counts
  are intentional-by-implementation and reproduced exactly
- anomalies (:119-145): sequence count == 1 -> "New sequence pattern: <sig>";
  pattern freq == 1 AND sig contains ERROR/CRITICAL/FATAL (case-sensitive,
  matches the SOURCE token captured by quirk P4) -> "Novel high-severity
  pattern: <sig[:50]>..." (both fire for qualifying sigs)
- wrapped as (SequenceViolation, Medium, [minTs,maxTs], 1.0) at main.cpp:384-392

Spark-first, no UDFs anywhere: a per-conv lead-column window materializes the
signature and its W-1 successors once; n-grams are then generated by plain
column expressions. ALL counting — novel_sequences and sequence_counts/
pattern_stats alike — aggregates chained 64-bit tuple-hashes (8-byte
shuffle keys, map-side combined); signature strings are built only for
emitted rows and never travel through an exchange. See the function
docstrings for the closed forms that make the counts exactly equal to the
reference's 45-regenerations-per-row loop.
"""

from __future__ import annotations

import threading

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

_SIG_BASE_LOCK = threading.Lock()

from ...config import PatternConfig
from .common import S_MED, T_SEQ, as_anomaly

# Bounded chunk size for the pattern stage's window partitioning (round 5).
# The stage's windows used to partition by conv_id alone, which serializes a
# hot conversation into ONE task: the bench corpus (like real agent-log
# corpora) holds ~10% of all rows in a single conv, so at local[8] every
# lead-window pass idled ~30% of the cluster behind that straggler
# (bench/stage_profile.py: pattern stage scaling efficiency 0.55 vs 0.89 for
# the skew-free online stage). Chunking by (conv_id, turn_idx // C) bounds
# every window partition at ~C rows regardless of conversation length —
# the "salted repartitioning" the hot-conversation skew demands, made exact
# for sequence semantics by overlap pads (see _sig_base). 8192 keeps the
# pad fraction at (W-1)/C ~ 0.1% while splitting a 10^6-row conversation
# into ~120 balanced chunks (tests shrink it to force the multi-chunk path).
_CHUNK_ROWS = 8192


def event_signature(source: Column, level_ord: Column, message: Column,
                    prefix_words: int = 3, prefix_trunc: int = 20) -> Column:
    # per-token trim of the reference's CPP_WS set (" \t\n\v\f\r",
    # PatternAnalyzer.cpp:176-193); btrim(charset) not regexp_replace — the
    # regex engine per token was a measurable cost at 6.9M rows
    toks = F.filter(
        F.transform(F.split(message, " "),
                    lambda t: F.btrim(t, F.lit(" \t\n\v\f\r"))),
        lambda t: t != "",
    )
    prefix = F.substring(
        F.array_join(F.slice(toks, 1, prefix_words), " "), 1, prefix_trunc
    )
    return F.concat_ws(":", source, level_ord.cast("string"), prefix)


def _gh(ln: int) -> Column:
    """Chained 64-bit tuple hash of the gram (conv_id, elements 0..ln-1):
    one xxhash64 per extension — O(W) per row across all lengths, not
    O(W^2). Chains over the 8-byte per-element hash leads (he, h1..),
    never the strings, so hash-only consumers do zero string work."""
    e = F.xxhash64(F.col("conv_id"), F.col("he"))
    for i in range(1, ln):
        e = F.xxhash64(e, F.col(f"h{i}"))
    return e


def _sig_str(ln: int) -> Column:
    return F.concat_ws("->", *[F.col(f"s{i}") for i in range(ln)])


def _by_ln(make, lo: int, hi: int, ln_col: str = "ln") -> Column:
    """Dispatch ``make(ln)`` on the value of the ``ln_col`` column."""
    expr = None
    for ln in range(hi, lo - 1, -1):
        e = make(ln)
        expr = e if expr is None else F.when(F.col(ln_col) == ln, e).otherwise(expr)
    return expr


def _tail_len(W: int) -> Column:
    """min(rows from this row to its conversation's end inclusive, W): the
    index of the first NULL among the hash leads h1..h{W-1}, or W when all
    are present. Replaces the round-4 row_number/count windows: those were
    UNBOUNDED per-conv passes (the hot conversation serialized them into one
    straggler task), while the null pattern is a per-row expression over
    leads the consumer computes anyway."""
    return F.coalesce(
        *[F.when(F.col(f"h{i}").isNull(), F.lit(i)) for i in range(1, W)],
        F.lit(W),
    )


def _gram_hash_counts(prep: DataFrame, cfg: PatternConfig) -> DataFrame:
    """(conv_id, gh, ln, rep_t, err, n): total occurrence-weighted counts per
    distinct n-gram, keyed by the chained 64-bit hash — signature strings are
    NEVER exchange payload here. ``rep_t`` is the turn_idx of the gram's
    first occurrence (used to attach the string later from one
    representative occurrence — turn_idx rather than position so the
    attach join's keys are base columns with known sort order);
    ``err`` is the A9 error-chain predicate
    (any element contains ERROR/CRITICAL — chain-safe because those tokens
    cannot span a '->' join), folded element-wise so it needs no string.

    The closed-form occurrence weight min(W+1-ln, N-p-ln+1) needs only
    rr = N-p (rows to conv end inclusive), never p or N themselves: when
    rr >= W both min() arms are >= W+1-ln with equality at rr == W, so
    weight == W+1-ln; when rr < W the second arm wins and rr is exactly the
    lead-null tail length. Hence weight derives from _tail_len alone and the
    round-4 positions windows (row_number + unbounded per-conv count — both
    hot-conversation stragglers) are gone."""
    W = cfg.sequence_window
    grams = []
    ghc = F.xxhash64(F.col("conv_id"), F.col("he"))
    errc = F.col("ee")
    for ln in range(2, W + 1):
        ghc = F.xxhash64(ghc, F.col(f"h{ln - 1}"))
        errc = errc | F.col(f"e{ln - 1}")
        wt = F.when(F.col("tl") < W, F.col("tl") - ln + 1).otherwise(
            F.lit(W + 1 - ln)
        )
        grams.append(
            F.when(
                F.col(f"h{ln - 1}").isNotNull(),
                F.struct(
                    ghc.alias("gh"),
                    F.lit(ln).alias("ln"),
                    wt.cast("long").alias("weight"),
                    errc.alias("err"),
                ),
            )
        )
    pairs = F.filter(F.array(*grams), lambda g: g.isNotNull())
    exploded = prep.withColumn("tl", _tail_len(W)).select(
        "conv_id", "turn_idx", F.explode(pairs).alias("g")
    )
    return exploded.groupBy("conv_id", F.col("g.gh").alias("gh")).agg(
        F.sum("g.weight").alias("n"),
        F.min("g.ln").alias("ln"),
        F.min("turn_idx").alias("rep_t"),
        F.max("g.err").alias("err"),
    )


def _attach_sig(prep: DataFrame, cands: DataFrame, cfg: PatternConfig,
                broadcast: bool) -> DataFrame:
    """Join the signature STRING onto hash-counted rows from their
    representative occurrence. The join keys are (conv_id, bucket, rep_t) —
    all base columns (bucket value-derived from rep_t) of the cached
    _sig_base, whose hash(conv_id, bucket) partitioning and (conv_id,
    bucket, turn_idx) sort the probe side (the one holding strings)
    inherits — so the string side joins without re-exchanging; with
    ``broadcast`` the candidate set ships to it, otherwise only the narrow
    count rows shuffle. Renamed join columns sidestep Spark's
    ambiguous-self-join detection (cands derives from prep)."""
    W = cfg.sequence_window
    c = cands.withColumnRenamed("conv_id", "c_conv").withColumnRenamed(
        "rep_t", "c_t"
    ).withColumnRenamed("ln", "c_ln")
    # the representative's home chunk is value-derived from its turn_idx, so
    # the chunked base's hash(conv_id, bucket) partitioning stays usable as
    # a join-key subset (round 5: bucket joined the partitioning for the
    # hot-conversation fix; pads were filtered out of prep upstream, so each
    # (conv_id, turn_idx) still matches exactly one row)
    c = c.withColumn(
        "c_bucket", F.floor(F.col("c_t") / _CHUNK_ROWS).cast("long")
    )
    # non-broadcast path: co-partition the NARROW count rows by (conv,
    # bucket) so the SortMergeJoin reuses the string side's existing
    # hash(conv_id, bucket) partitioning
    # (requireAllClusterKeysForCoPartition=false in session.py) — the
    # lead-string frame never re-exchanges (plan-probed with autoBroadcast
    # disabled, round 4; re-probed after the round-5 chunking)
    right = F.broadcast(c) if broadcast else c.repartition("c_conv", "c_bucket")
    joined = prep.join(
        right,
        (F.col("conv_id") == F.col("c_conv"))
        & (F.col("bucket") == F.col("c_bucket"))
        & (F.col("turn_idx") == F.col("c_t")),
    )
    return joined.withColumn("seq_sig", _by_ln(_sig_str, 2, W, "c_ln"))


def sequence_counts(parsed: DataFrame, cfg: PatternConfig = PatternConfig()) -> DataFrame:
    """A10: (conv_id, seq_sig) -> count with the reference's overlap-recount
    semantics.

    The reference regenerates EVERY n-gram of the 10-event window on EVERY
    event (PatternAnalyzer.cpp:55-71), i.e. ~45 string builds per row. The
    same totals have a closed form: an n-gram occurrence of length L starting
    at in-conv position p (0-based) appears in exactly

        min(W + 1 - L, N - p - L + 1)      (W = window size, N = conv length)

    of the per-event windows. So we generate each occurrence ONCE from a
    forward-looking window (<= W-1 n-grams per row instead of ~45) carrying
    that weight, and sum weights — exactly count-equal to the reference.

    Counting runs entirely on chained 64-bit hashes (8-byte map-side-combined
    shuffle keys, round 4); each distinct sequence's STRING is attached
    afterwards from one representative occurrence via a (conv_id, position)
    join against the lead frame — signature strings are materialized
    output-proportionally and never travel through the counting exchange.
    (64-bit collisions would merge two sequences; odds at ~10^5
    sequences/conv are ~1e-11 — accepted and documented, same as
    novel_sequences.)
    """
    base = _sig_base_cached(parsed, cfg)
    prep = _lead_cols(base, cfg)
    counts = _gram_hash_counts(prep, cfg)
    return _attach_sig(prep, counts, cfg, broadcast=False).select(
        "conv_id", "seq_sig", "n"
    )


def _sig_base(parsed: DataFrame, cfg: PatternConfig) -> DataFrame:
    """The NARROW cacheable base of the whole pattern stage:
    (conv_id, turn_idx, s0, he, ee, bucket, pad), hash-partitioned by
    (conv_id, bucket) and sorted by (conv_id, bucket, turn_idx).

    Round-4 established the narrow-cache shape (the stage used to cache the
    full 10-string-wide lead frame, ~2.4 GB at 6.9M rows); partitioning AND
    ordering of an explicit repartition+sortWithinPartitions survive caching
    (InMemoryTableScan reports them; plan-verified), so every downstream
    lead window over this base plans with ZERO additional exchange and ZERO
    sort.

    Round 5 replaces the hash(conv_id) partitioning with BOUNDED CHUNKS:
    bucket = turn_idx // C splits a hot conversation (the bench corpus keeps
    ~10% of all rows in one conv_id; so do real agent-log corpora) across
    every core instead of serializing it into one window task — the
    pattern stage profiled at 0.55 L2->L8 scaling efficiency with ~30% of
    the high level idle behind that straggler (bench/stage_profile.py).
    Sequence semantics stay EXACT via overlap pads: each chunk additionally
    carries the first W-1 rows (in turn order) of each of the next W-1
    non-empty buckets of the same conversation, flagged pad=true. A non-pad
    row therefore always sees its true next W-1 conversation rows as leads
    (the first W-1 rows of a conversation suffix span at most W-1 non-empty
    buckets, and within each they are a prefix of length <= W-1, all of
    which the pads include — gaps from malformed-filtered turn_idx values
    change bucket populations but never this cover), and a NULL lead means
    the conversation truly ended. Pad rows emit nothing (_lead_cols filters
    them after the window); pad volume is <= (W-1)^2 rows per multi-bucket
    bucket, ~0.1% of input at C=8192.

    Plan shape: ONE full exchange of the narrow frame (the same count the
    conv-partitioned base paid), plus a map-combined per-bucket count
    aggregate (tiny output) and a rank window over ONLY multi-bucket
    conversations' rows to extract the pad heads."""
    W = cfg.sequence_window
    C = _CHUNK_ROWS
    # ts_parsed rides along (8 bytes/row on the persisted base) so
    # pattern_anomalies' per-conv [min_ts, max_ts] window aggregates from
    # THIS cache instead of re-reading ``parsed`` — in the standalone query
    # (parsed not persisted) that second read recomputed the whole
    # render+parse subtree (r6; measured ~a third of q_pattern_novel).
    # _lead_cols never selects it, so no window pass moves it. A frame
    # without ts_parsed gets a NULL column: novel_sequences needs no
    # timestamps, and pattern_anomalies rejects such a frame up front.
    ts_col = (
        F.col("ts_parsed")
        if "ts_parsed" in parsed.columns
        else F.lit(None).cast("timestamp").alias("ts_parsed")
    )
    pre = parsed.filter(~F.col("malformed")).select(
        "conv_id",
        "turn_idx",
        ts_col,
        event_signature(
            F.col("source"), F.col("level_ord"), F.col("message"),
            cfg.prefix_words, cfg.prefix_trunc,
        ).alias("s0"),
    )
    # he/ee: the per-element 8-byte hash and A9 error flag, computed ONCE
    # here — hash-only consumers (occurrence counting, tail candidates)
    # lead these instead of the strings, so their window passes move longs,
    # not ~30-byte signatures
    pre = pre.withColumn("he", F.xxhash64(F.col("s0"))).withColumn(
        "ee", F.col("s0").contains("ERROR") | F.col("s0").contains("CRITICAL")
    ).withColumn("bucket", F.floor(F.col("turn_idx") / C).cast("long"))

    # pad-source map: every non-empty bucket pads its previous W-1 non-empty
    # buckets. Built from the per-(conv, bucket) presence aggregate — a
    # map-side-combined shuffle whose output is ~rows/C (column pruning
    # keeps s0/he/ee out of this scan) — with a lag window over that tiny
    # frame (the hot conv contributes #buckets rows here, not #rows).
    bpres = pre.groupBy("conv_id", "bucket").agg(F.count(F.lit(1)).alias("bn"))
    w_cb = Window.partitionBy("conv_id").orderBy("bucket")
    tgts = F.array(*[F.lag("bucket", j).over(w_cb) for j in range(1, W)])
    bmap = (
        bpres.withColumn("tgts", F.filter(tgts, lambda x: x.isNotNull()))
        .select(
            F.col("conv_id").alias("m_conv"),
            F.col("bucket").alias("m_src"),
            F.explode("tgts").alias("m_tgt"),
        )
    )
    # heads: the first W-1 rows of each pad-SOURCE bucket. Only multi-bucket
    # conversations (len > ~C — rare) reach the rank window, so the window's
    # input is a small semi-joined subset; its (conv, bucket) partitions are
    # bounded by C.
    on_src = (F.col("conv_id") == F.col("m_conv")) & (
        F.col("bucket") == F.col("m_src")
    )
    heads_src = pre.join(
        bmap.select("m_conv", "m_src").distinct(), on_src, "leftsemi"
    )
    w_loc = Window.partitionBy("conv_id", "bucket").orderBy("turn_idx")
    heads = (
        heads_src.withColumn("rk", F.row_number().over(w_loc))
        .filter(F.col("rk") <= W - 1)
        .drop("rk")
    )
    pads = heads.join(bmap, on_src).select(
        "conv_id", "turn_idx", "ts_parsed", "s0", "he", "ee",
        F.col("m_tgt").alias("bucket"),
    )
    chunked = pre.withColumn("pad", F.lit(False)).unionByName(
        pads.withColumn("pad", F.lit(True))
    )
    return chunked.repartition("conv_id", "bucket").sortWithinPartitions(
        "conv_id", "bucket", "turn_idx"
    )


def unpersist_pattern_caches(parsed: DataFrame, blocking: bool = False) -> int:
    """Release every _sig_base cache memoized on ``parsed`` (r6, VERDICT r5
    watch item 3): long-lived drivers that submit many pipelines over
    distinct parsed frames should call this when done with a frame —
    otherwise each frame's MEMORY_AND_DISK base blocks stay resident until
    the frame object is GC'd (a slow cache leak under sustained submission).
    run_concurrent_dag/bench callers that unpersist the parsed frame itself
    should call this alongside. Returns the number of caches released."""
    with _SIG_BASE_LOCK:
        memo = parsed.__dict__.pop("_graft_sig_base_memo", None)
    if not memo:
        return 0
    for df in memo.values():
        df.unpersist(blocking=blocking)
    return len(memo)


def _sig_base_cached(parsed: DataFrame, cfg: PatternConfig) -> DataFrame:
    """One persisted _sig_base per (parsed frame, signature params).

    sequence_counts / novel_sequences / pattern_stats each consume the same
    narrow base; before round 5 each persisted its OWN copy, so a pipeline
    running pattern_anomalies and pattern_stats together held two identical
    MEMORY_AND_DISK caches and computed the base exchange+sort twice. The
    memo lives on the parsed DataFrame object, so the cache's lifetime is
    unchanged: freed when the consuming plans and the parsed frame are GC'd.

    PERSIST CONTRACT: the memoized cache lives as long as the parsed
    DataFrame OBJECT. A driver that keeps submitting pipelines over new
    parsed frames and drops them without unpersisting accumulates dead
    MEMORY_AND_DISK blocks until GC notices; call
    ``unpersist_pattern_caches(parsed)`` (or unpersist the returned frames)
    when a frame is retired. The engine's own callers (run_concurrent_dag,
    bench.py) unpersist explicitly."""
    from pyspark import StorageLevel

    # sequence_window and the chunk size shape the base since round 5 (pad
    # construction), so they join the signature params in the key
    key = (cfg.prefix_words, cfg.prefix_trunc, cfg.sequence_window, _CHUNK_ROWS)
    with _SIG_BASE_LOCK:  # branches may be constructed from worker threads
        memo = parsed.__dict__.setdefault("_graft_sig_base_memo", {})
        if key not in memo:
            memo[key] = _sig_base(parsed, cfg).persist(
                StorageLevel.MEMORY_AND_DISK
            )
        return memo[key]


def _lead_cols(base: DataFrame, cfg: PatternConfig) -> DataFrame:
    """s1..s{W-1} lead columns over the sorted chunked base — exchange- and
    sort-free when ``base`` is a cached _sig_base.

    The window partitions by (conv_id, bucket): bounded partitions, so a hot
    conversation never serializes the pass (round 5). Overlap pads make the
    leads of every NON-pad row identical to the conv-global leads; pad rows
    are dropped AFTER the window (the pad predicate is not on the window's
    partition keys, so Catalyst cannot push it below the WindowExec — each
    surviving row saw its true successors). Tail lengths (rows to conv end)
    come from the lead-null pattern via _tail_len, never from a positions
    window."""
    W = cfg.sequence_window
    w_ord = Window.partitionBy("conv_id", "bucket").orderBy("turn_idx")
    # string, hash, and err-flag leads are ALL declared; Catalyst prunes the
    # lead expressions a consumer does not reference (plan-verified), so a
    # hash-only consumer's WindowExec moves only longs/booleans while the
    # one string-building pass gets the s-leads in the same sort-free plan
    cols = [
        F.col("conv_id"),
        F.col("turn_idx"),
        F.col("bucket"),
        F.col("pad"),
        F.col("s0"),
        F.col("he"),
        F.col("ee"),
        *[F.lead("s0", i).over(w_ord).alias(f"s{i}") for i in range(1, W)],
        *[F.lead("he", i).over(w_ord).alias(f"h{i}") for i in range(1, W)],
        *[F.lead("ee", i).over(w_ord).alias(f"e{i}") for i in range(1, W)],
    ]
    return base.select(*cols).filter(~F.col("pad")).drop("pad")


def novel_sequences(parsed: DataFrame, cfg: PatternConfig = PatternConfig(),
                    repeated_broadcast_max: int = 4_000_000) -> DataFrame:
    """(conv_id, seq_sig) for sequences with total count == 1 — the inputs of
    A11 — computed WITHOUT aggregating the full n-gram stream.

    Key identity: total count n(sig) = Σ over occurrences of
    min(W+1-L, N-p-L+1). Every occurrence contributes ≥ 1, and an occurrence
    has weight exactly 1 iff L == W (a full-window gram fits exactly one
    window) or it ends at the conversation's LAST row (p + L == N). Hence

        n == 1  ⇔  exactly one occurrence ∧ (L == W ∨ tail occurrence).

    Two cheap branches instead of aggregating the 9x-exploded stream:

    (a) W-grams (one per row): occurrence counts via groupBy on the 64-bit
        CHAINED tuple-hash only — an 8-byte shuffle key with map-side partial
        aggregation, never the signature string. Repeated W-grams (occ >= 2)
        are the rare case over log-like data, so novelty is a broadcast
        ANTI-join of the rows against the repeated-hash set: the big side
        never shuffles and signature strings are built only for emitted rows
        (the r2 plan shuffled every row carrying its ~200-char string).
        Adversarial guard: if repeated hashes exceed
        ``repeated_broadcast_max`` (~32 MB of longs) the plan falls back to
        the r2-style hash-keyed window count — correct at any repeat ratio,
        it just pays the wide shuffle.
    (b) tail n-grams with L < W: ≤ W-2 candidates per conversation (tiny);
        occurrence counting is candidate-proportional (round 5): the per-conv
        candidate hashes broadcast back to the rows as one array per conv_id
        and each row intersects them with its O(W) prefix-hash chain — only
        matches explode (no input×W gram stream is ever generated); novel ⇔
        occurrences == 1; strings built only for those

    Hashes are CHAINED (gh_ln = xxhash64(gh_{ln-1}, h_{ln-1}) over the
    8-byte per-element hashes, seeded with conv_id): one 64-bit hash per
    extension instead of re-hashing all ln strings — O(W) per row total
    instead of O(W^2), and zero string reads in the hash-only passes.
    64-bit collisions would
    merge two distinct sequences; odds at ~10^5 sequences/conv are ~1e-11 —
    accepted and documented.

    What is persisted is the NARROW sorted base (conv_id, turn_idx, s0) —
    see _sig_base — not the 10-string-wide lead frame the r3 code cached
    (~2.4 GB at 6.9M rows): branches (a) and (b) and the plan-choice count
    each re-derive their lead columns from the cached base with zero
    additional sort or exchange. The cache is freed when the returned plan
    is GC'd — same lifetime as the pipeline's ``parsed.persist()``."""
    base = _sig_base_cached(parsed, cfg)
    prep = _lead_cols(base, cfg)
    W = cfg.sequence_window

    # (a) full-window grams: hash-only occurrence counts, anti-join singles.
    # The occurrence-count pass filters/chains on the HASH leads, so its
    # WindowExec never materializes a lead string; only the emitting
    # anti-join pass (which must build the output strings anyway) computes
    # the string leads — once.
    wrows = prep.filter(F.col(f"h{W - 1}").isNotNull())
    non_singles = (
        wrows.select(_gh(W).alias("gh"))
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("occ"))
        .filter(F.col("occ") >= 2)
        .select("gh")
    )
    # ONE blocking action decides the plan AND (on the broadcast path)
    # fetches the repeated-hash set: limit(cap+1).toPandas() — before round 5
    # this was a count() plus a second cached toPandas() job, i.e. one more
    # sequential driver-side job-submission gap per pipeline. The Arrow fetch
    # is bounded to cap+1 rows (~32 MB of longs); also warms the base cache.
    rep_pdf = non_singles.limit(repeated_broadcast_max + 1).toPandas()
    if len(rep_pdf) <= repeated_broadcast_max:
        # re-emit the driver-held set as a LOCAL relation: the broadcast
        # ships driver data, nothing recomputes the aggregation
        repeated = prep.sparkSession.createDataFrame(rep_pdf, schema="gh long")
        novel_a = (
            wrows.withColumn("gh", _gh(W))
            .join(F.broadcast(repeated), "gh", "left_anti")
            .select("conv_id", _sig_str(W).alias("seq_sig"))
        )
    else:
        # too many repeated grams to broadcast: shuffle (conv_id, gh) only,
        # count per hash with a window, keep singles, strings built in-place
        w_gh = Window.partitionBy("gh")
        novel_a = (
            wrows.withColumn("gh", _gh(W))
            .withColumn("occ", F.count(F.lit(1)).over(w_gh))
            .filter(F.col("occ") == 1)
            .select("conv_id", _sig_str(W).alias("seq_sig"))
        )

    # (b) tail grams shorter than W: ln = N - p in [2, W-1]. N - p needs no
    # row_number/conv_n window — it is the index of the FIRST NULL lead:
    # h_i is null iff p + i >= N, so min{i >= 1 : h_i null} == N - p (and no
    # null among h1..h{W-1} means N - p >= W: not a tail candidate).
    # Everything here is hash-only (the cand/occ window passes move longs);
    # the <= W-2-per-conv surviving keys get their strings from the
    # representative join against the cached base.
    cand = (
        prep.select("conv_id", "turn_idx", "he",
                    *[f"h{i}" for i in range(1, W)])
        .withColumn("ln", _tail_len(W).cast("int"))
        .filter((F.col("ln") >= 2) & (F.col("ln") <= W - 1))
        .withColumn("gh", _by_ln(_gh, 2, W - 1))
    )
    # Closed-form occurrence counting (round 5): a tail candidate of length
    # ln is by definition some row's length-ln PREFIX gram, and every row's
    # full prefix-hash chain g(p,2)..g(p,min(W-1, N-p)) is an O(W) array the
    # row computes anyway while chaining (the `hashes` array below). The old
    # plan EXPLODED that array — ~8 rows per input row, ~53M at 6.9M input —
    # and semi-joined the stream against the broadcast candidate keys.
    # Instead, ship the ≤ W-2 candidates per conversation back to the rows
    # as ONE broadcast array per conv_id and intersect per row: only actual
    # matches are exploded (≈ the candidate count — every candidate matches
    # at least itself), so the aggregated stream is candidate-proportional,
    # not input×W-proportional. Semantics equal to the exploded count modulo
    # 64-bit collisions (array_intersect would merge a row matching one
    # candidate at two lengths), inside the accepted collision model.
    # Broadcast scale: one narrow row per conversation — the same footprint
    # class as the candidate-key broadcast the exploded plan required.
    hashes = F.filter(
        F.array(
            *[
                F.when(F.col(f"h{ln - 1}").isNotNull(), _gh(ln))
                for ln in range(2, W)
            ]
        ),
        lambda x: x.isNotNull(),
    )
    cand_sets = (
        cand.groupBy("conv_id")
        .agg(F.collect_list("gh").alias("cand_ghs"))
        .withColumnRenamed("conv_id", "cs_conv")  # sidestep self-join check
    )
    matches = prep.join(
        F.broadcast(cand_sets), F.col("conv_id") == F.col("cs_conv")
    ).select(F.explode(F.array_intersect(hashes, F.col("cand_ghs"))).alias("gh"))
    singles = (
        matches.groupBy("gh")
        .agg(F.count(F.lit(1)).alias("occurrences"))
        .filter(F.col("occurrences") == 1)
        .select("gh")
    )
    b_keys = (
        cand.join(F.broadcast(singles), "gh")
        .select("conv_id", F.col("turn_idx").alias("rep_t"), "ln")
    )
    novel_b = _attach_sig(prep, b_keys, cfg, broadcast=True).select(
        "conv_id", "seq_sig"
    )

    return novel_a.unionByName(novel_b)


def pattern_anomalies(parsed: DataFrame, cfg: PatternConfig = PatternConfig()) -> DataFrame:
    if "ts_parsed" not in parsed.columns:
        raise ValueError(
            "pattern_anomalies needs a ts_parsed column for its per-conversation "
            f"windows; got columns {parsed.columns}"
        )
    # [min_ts, max_ts] per conv from the SHARED persisted base (its rows are
    # exactly parsed's non-malformed rows; pad rows duplicate rows of the
    # same conversation, so the min/max are unchanged by them) — reading
    # ``parsed`` here instead re-ran the whole upstream subtree whenever the
    # caller had not persisted it (r6; the standalone query had not)
    rng = (
        _sig_base_cached(parsed, cfg)
        .groupBy("conv_id")
        .agg(F.min("ts_parsed").alias("min_ts"), F.max("ts_parsed").alias("max_ts"))
    )
    # one row per conv — always broadcast, never shuffle the big side
    novel = novel_sequences(parsed, cfg).join(F.broadcast(rng), "conv_id")

    high = (
        F.col("seq_sig").contains("ERROR")
        | F.col("seq_sig").contains("CRITICAL")
        | F.col("seq_sig").contains("FATAL")
    )

    # ONE pass over the novel stream: both descriptions (the unconditional
    # "New sequence pattern" row and the conditional "Novel high-severity"
    # row, PatternAnalyzer.cpp:119-145) are emitted via a filtered-array
    # explode — a two-branch union would consume (and recompute) the whole
    # novel_sequences plan twice (~2x the pattern stage at 6.9M rows).
    descs = F.array(
        F.concat(F.lit("New sequence pattern: "), F.col("seq_sig")),
        F.when(
            high,
            F.concat(
                F.lit("Novel high-severity pattern: "),
                F.substring(F.col("seq_sig"), 1, 50),
                F.lit("..."),
            ),
        ),
    )
    out = novel.select(
        F.col("conv_id"),
        F.lit(None).cast("int").alias("turn_idx"),
        F.lit("pattern").alias("detector"),
        F.lit(T_SEQ).alias("anomaly_type"),
        F.lit(S_MED).alias("severity"),
        F.col("min_ts").alias("window_start"),
        F.col("max_ts").alias("window_end"),
        F.lit(1.0).alias("score"),
        F.lit(None).cast("string").alias("source"),
        F.explode(F.filter(descs, lambda x: x.isNotNull())).alias("description"),
    )
    return as_anomaly(out)


def pattern_stats(parsed: DataFrame, cfg: PatternConfig = PatternConfig()):
    """A9: totals / repeating>=2 / error-chain counts / top-10 (per conv).

    Round-4 plan (VERDICT r3 item 2): the per-conv stats aggregate entirely
    on the chained 64-bit gram hashes (the error-chain predicate folds
    element-wise into the hash stream, so it needs no joined string), and
    signature strings exist ONLY for the top-10 candidates: rows whose count
    reaches the conv's 10th-largest count (the candidate cut is hash-only
    and order-independent — the 10th-largest n is the same under any tie
    order), attached from one representative occurrence via a broadcast join
    against the lead frame, then exactly ranked by (n desc, seq_sig asc).
    Signature strings never travel through an exchange anywhere in either
    output. The narrow hash-count frame is cached (it feeds stats, the
    candidate cut, and the join-back); lifetime matches the pipeline's
    parsed cache (freed at plan GC)."""
    from pyspark import StorageLevel

    base = _sig_base_cached(parsed, cfg)
    prep = _lead_cols(base, cfg)
    counts = _gram_hash_counts(prep, cfg).persist(StorageLevel.MEMORY_AND_DISK)
    stats = counts.groupBy("conv_id").agg(
        F.count(F.lit(1)).alias("total_patterns"),
        F.count_if(F.col("n") >= 2).alias("repeating_patterns"),
        F.count_if(F.col("err")).alias("error_chains"),
    )
    w_rank = Window.partitionBy("conv_id").orderBy(F.desc("n"), "gh")
    w_conv = Window.partitionBy("conv_id")
    cand = (
        counts.withColumn("rn_h", F.row_number().over(w_rank))
        .withColumn(
            "th", F.max(F.when(F.col("rn_h") == 10, F.col("n"))).over(w_conv)
        )
        .filter(F.col("th").isNull() | (F.col("n") >= F.col("th")))
        .drop("rn_h", "th")
    )
    withsig = _attach_sig(prep, cand, cfg, broadcast=True)
    w = Window.partitionBy("conv_id").orderBy(F.desc("n"), "seq_sig")
    top = (
        withsig.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select("conv_id", "seq_sig", "n", "rank")
    )
    return dict(stats=stats, top_patterns=top)
