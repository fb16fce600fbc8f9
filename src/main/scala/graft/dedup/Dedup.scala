package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.text.TextFunctions._
import graft.util.Checkpoints.CutOps

/** Deduplication engines for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine.
  *
  * Scale design: every method is blocking-based — candidate pairs come
  * from an equality join on a bucket key (fingerprint, LSH band, SimHash
  * chunk, label), never from an O(n²) cross join. Bucket joins shuffle on
  * the bucket key; `maxBucketSize` caps degenerate buckets (a stopword-only
  * shingle, a zero vector) so one hot key cannot produce a quadratic
  * straggler at 100 TB.
  */
object Dedup {

  /** Exact dedup: canonical = lowest id per fingerprint. Returns the input
    * plus `fp` and `is_canonical`. One shuffle on the fingerprint. */
  def withExactDupFlags(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val w = Window.partitionBy(col("fp"))
    docs.withColumn("fp", fingerprint(text))
      .withColumn("is_canonical", id === min(id).over(w))
  }

  /** Exact-dedup compaction: keep one row per distinct fingerprint. */
  def dropExactDups(docs: DataFrame, id: Column, text: Column): DataFrame =
    withExactDupFlags(docs, id, text).filter(col("is_canonical"))
      .drop("fp", "is_canonical")

  /** Degenerate-key guard shared by every bucket-join pipeline: drop
    * buckets holding more than `maxBucketSize` rows (a stopword-only
    * shingle, a zero vector, an all-zero signature chunk) so one hot key
    * cannot produce a quadratic straggler. */
  private def capBuckets(keyed: DataFrame, maxBucketSize: Int): DataFrame =
    // cap disabled → the size window could filter nothing: skip its
    // shuffle entirely (oracle-parity configs pass Int.MaxValue)
    if (maxBucketSize == Int.MaxValue) keyed
    else keyed
      .withColumn("bsz", count(lit(1)).over(Window.partitionBy(col("bucket"))))
      .filter(col("bsz") <= maxBucketSize)
      .drop("bsz")

  /** Generic bucket-join candidate generation: explode bucket keys, join
    * docs sharing a bucket, emit each unordered id pair once. Oversized
    * buckets are dropped ([[capBuckets]]). */
  private def pairsFromBuckets(
      keyed: DataFrame, // columns: id, bucket
      maxBucketSize: Int): DataFrame = {
    val sized = capBuckets(keyed, maxBucketSize)
    val a = sized.select(col("id").as("a_id"), col("bucket"))
    val b = sized.select(col("id").as("b_id"), col("bucket"))
    a.join(b, Seq("bucket"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
  }

  // ---- signature-class collapse, shared by minhash / simhash / winnow ----
  //
  // Documents with an IDENTICAL signature/fingerprint set collapse into
  // one CLASS before the bucket join: on duplicate-heavy corpora — the
  // normal web-scale case — a duplicate storm otherwise rides into every
  // one of its buckets and the join edge is quadratic per bucket. A class
  // costs one row in the join and ONE verification per class pair; the id
  // pairs are exploded back out afterwards (that expansion is the true
  // output size, not join overhead), and duplicates no longer count
  // against the bucket cap (per-document counting evicted hot buckets and
  // silently dropped real pairs). Round 5 had to re-derive this fix a
  // third time for winnowing; the helpers below are that pattern, named.

  /** One row per distinct class key: sorted member `ids`, canonical `cid`
    * = min id (the class key columns ride along for banding/verification). */
  private def collapseClasses(rows: DataFrame, classKey: Seq[Column]): DataFrame =
    rows.groupBy(classKey: _*)
      .agg(sort_array(collect_list(col("id"))).as("ids"))
      .withColumn("cid", element_at(col("ids"), 1))

  /** Expand verified class pairs (`a_ids`, `b_ids`, value) into member id
    * pairs. Class-min-id order (a_cid < b_cid) does NOT order every member
    * pair, so least/greatest restores the a_id < b_id output convention. */
  private def expandCrossPairs(classPairs: DataFrame, valueName: String): DataFrame =
    classPairs
      .select(explode(col("a_ids")).as("x"), col("b_ids"), col(valueName))
      .select(col("x"), explode(col("b_ids")).as("y"), col(valueName))
      .select(least(col("x"), col("y")).as("a_id"),
        greatest(col("x"), col("y")).as("b_id"), col(valueName))

  /** Within-class member pairs: identical-set members match by definition,
    * at a per-class `value` (jaccard 1.0 / hamming 0 / the whole set
    * size). `maxBucketSize` guards the C(n,2) expansion of a duplicate
    * storm; `keepIf` lets a pipeline exclude classes that cannot reach its
    * threshold (winnow's `size(fps) >= minShared`). */
  private def expandWithinPairs(
      classes: DataFrame, value: Column, valueName: String,
      maxBucketSize: Int, keepIf: Column = lit(true)): DataFrame =
    classes
      .filter(size(col("ids")).between(2, maxBucketSize) && keepIf)
      .select(col("ids"), value.as(valueName))
      .select(explode(col("ids")).as("a_id"), col("ids"), col(valueName))
      .select(col("a_id"), explode(col("ids")).as("b_id"), col(valueName))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col(valueName))

  /** Shared evaluation policy around a class-collapsed pipeline.
    *
    * `materialize = true` (default at call sites): the class table is
    * persisted (it has several downstream consumers), the result is
    * eagerly evaluated via [[graft.util.Checkpoints.cut]] (local by
    * default; durable under the opt-in reliable-checkpoint flag), and the
    * class cache is released before returning — nothing leaks past the
    * call. In default mode, losing an executor after construction fails
    * downstream reads instead of recomputing, so long-lived cluster jobs
    * on preemptible nodes should either enable
    * `spark.graft.reliableCheckpoints` or pass `materialize = false`:
    * fully lazy AND unpersisted — the class sub-plan is simply
    * re-evaluated per consumer (round-5 ADVICE: the previous
    * unconditional persist leaked a cached DataFrame for the session
    * lifetime on every lazy call). */
  private def classPipeline(classesLazy: DataFrame, materialize: Boolean)(
      build: DataFrame => DataFrame): DataFrame =
    if (!materialize) build(classesLazy)
    else {
      val classes = classesLazy.persist()
      val out = build(classes).cutLineage()
      classes.unpersist(false)
      out
    }

  /** Shingle rows built without higher-order functions: posexplode the
    * tokens, window-lead the next n-1 tokens, concat. HOFs
    * (transform/aggregate) are CodegenFallback — interpreted per element —
    * while generators + window + concat stay fully codegen'd; the window's
    * id-partitioning is then reused by the downstream groupBy (single
    * shuffle). MinHash min is duplicate-insensitive, so no distinct pass
    * is needed. */
  def shingleRows(docs: DataFrame, id: Column, text: Column, n: Int,
      carry: Seq[(String, Column)] = Nil): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    import org.apache.spark.sql.expressions.Window
    val carried = carry.map { case (nm, c) => c.as(nm) }
    val carriedRefs = carry.map { case (nm, _) => col(nm) }
    val toks = docs.select(id.as("id") +: carried :+
      posexplode(graft.text.TextFunctions.tokens(text)).as(Seq("pos", "tok")): _*)
    if (n == 1)
      return toks.select(col("id") +: carriedRefs :+ col("tok").as("sh"): _*)
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    toks
      .select(col("id") +: carriedRefs ++: col("tok") +:
        (1 until n).map(j => lead(col("tok"), j).over(w).as(s"t$j")): _*)
      .filter((1 until n).map(j => col(s"t$j").isNotNull).reduce(_ && _))
      .select(col("id") +: carriedRefs :+
        concat_ws(" ", col("tok") +: (1 until n).map(j => col(s"t$j")): _*).as("sh"): _*)
  }

  /** [[shingleRows]] variant that keeps each shingle's 0-based start
    * position: (id, pos, sh). Same generator + window-lead construction
    * (fully codegen'd, no HOFs); the window's id-partitioning is reused by
    * any downstream per-document window. */
  def shingleRowsPos(docs: DataFrame, id: Column, text: Column,
      n: Int): DataFrame = {
    require(n >= 1, s"shingle width must be >= 1, got $n")
    val toks = docs.select(id.as("id"),
      posexplode(graft.text.TextFunctions.tokens(text)).as(Seq("pos", "tok")))
    if (n == 1)
      return toks.select(col("id"), col("pos"), col("tok").as("sh"))
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    toks
      .select(Seq(col("id"), col("pos"), col("tok")) ++
        (1 until n).map(j => lead(col("tok"), j).over(w).as(s"t$j")): _*)
      .filter((1 until n).map(j => col(s"t$j").isNotNull).reduce(_ && _))
      .select(col("id"), col("pos"),
        concat_ws(" ", col("tok") +: (1 until n).map(j => col(s"t$j")): _*).as("sh"))
  }

  /** Substring-level dedup (the Lee et al. 2022 "Deduplicating Training
    * Data" face): find every MAXIMAL token span of a document whose every
    * length-`n` window also occurs in some OTHER document. Whole-document
    * dedup misses boilerplate headers/footers and quoted passages pasted
    * into otherwise-unique documents; span-level detection is what a
    * production corpus cleaner cuts with.
    *
    * Pipeline: positioned n-gram windows → cross-document-repeated window
    * keys (min(id) < max(id) on one map-side-combinable groupBy — the
    * exact "appears in ≥2 docs" test without a countDistinct) → semi join
    * positions back onto the repeated keys (reuses the groupBy's exchange)
    * → merge consecutive hit positions per document into maximal spans
    * with the classic gaps-and-islands `pos − row_number()` grouping.
    *
    * Output: (id, span_start, span_end, span_tokens) — 0-based inclusive
    * token indices, span_tokens = covered token count.
    *
    * Scale: one shuffle on the window key + one on the doc id; never
    * all-pairs. `hashKeys=true` (production default) joins on xxhash64 of
    * the window instead of the string — at 100 TB the shuffled key drops
    * from ~`n` words to 8 bytes, at the cost of a vanishing (2^-64-ish)
    * false-merge probability; oracle-parity callers pass false so SQL can
    * replay the key. */
  def repeatedSpans(docs: DataFrame, id: Column, text: Column, n: Int = 8,
      hashKeys: Boolean = true): DataFrame = {
    val sh0 = shingleRowsPos(docs, id, text, n)
    val sh = if (hashKeys) sh0.select(col("id"), col("pos"), xxhash64(col("sh")).as("sh"))
             else sh0
    val crossDoc = sh.groupBy(col("sh"))
      .agg(min(col("id")).as("min_id"), max(col("id")).as("max_id"))
      .filter(col("min_id") < col("max_id"))
      .select(col("sh"))
    val hits = sh.join(crossDoc, Seq("sh"), "left_semi")
    val w = Window.partitionBy(col("id")).orderBy(col("pos"))
    hits
      .select(col("id"), col("pos"),
        (col("pos") - row_number().over(w)).as("grp"))
      .groupBy(col("id"), col("grp"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + lit(n - 1)).as("span_end"))
      .select(col("id"), col("span_start").cast("long").as("span_start"),
        col("span_end").cast("long").as("span_end"),
        (col("span_end") - col("span_start") + 1).cast("long").as("span_tokens"))
  }

  /** Edit-distance pairs (record linkage) with a LOSSLESS segment filter —
    * the PassJoin principle (Li, Deng, Feng, "PassJoin: a partition-based
    * method for similarity joins", PVLDB 5(3), 2012): if lev(a, b) <= k,
    * then for ANY partition of `a` into k+1 segments, at least one
    * segment appears in `b` EXACTLY (pigeonhole over the <= k edits), at
    * a start position shifted by at most the net indels before it, i.e.
    * within ±k. So candidates are an equi-join:
    *
    *   probe side: each string's k+1 even-split segments, keyed by
    *     (probe length, segment index, segment text);
    *   index side: each string generates the substrings matching a probe
    *     of length in [len-k, len+k], for each segment index, at start
    *     offsets within ±k of that probe's segment start — a bounded
    *     (2k+1)·(k+1)·(2k+1) ≈ 45 (k=2) substrings per row.
    *
    * Candidate volume is LINEAR in table size times that constant (vs a
    * blocking key's per-block quadratic, which grows with scale), and the
    * filter is exact: verified pairs equal the all-pairs answer, which is
    * what the q131 oracle recomputes. The verify is codegen'd
    * `levenshtein`. An optional blocking column still composes (brand
    * here), cutting the index join's fan-out further. */
  /** Chars tracked by the packed frequency signature — the 8 most common
    * characters of English word text (space first: it counts words).
    * A SUBSET alphabet keeps the signature one BIGINT; the bound stays
    * lossless because restricting the L1 sum to a subset only lowers it. */
  private val FreqSigChars = Seq(" ", "e", "a", "o", "r", "i", "l", "n")

  /** Packed per-row character-frequency signature: count of each
    * [[FreqSigChars]] char (capped 255) in 8 bits each — computed ONCE
    * per row and carried through the candidate join, so the pair-level
    * filter is pure integer ops. */
  def charFreqSig(name: Column): Column =
    FreqSigChars.zipWithIndex.map { case (c, i) =>
      shiftleft(least(length(name) - length(replace(name, lit(c), lit(""))),
        lit(255L)), i * 8)
    }.reduce(_ + _)

  /** L1 distance between two packed signatures: a LOWER BOUND on the
    * full-alphabet character-frequency L1 distance, which itself lower-
    * bounds 2·lev(a, b) (each edit changes at most one count by 1 on
    * each of the two sides) — so `charFreqL1 > 2k` losslessly refutes
    * `lev <= k` before the O(k·len) banded DP runs. 8 shifts/masks/abs,
    * whole-stage-codegen friendly. */
  def charFreqL1(a: Column, b: Column): Column =
    FreqSigChars.indices.map { i =>
      abs(shiftright(a, i * 8).bitwiseAND(lit(255L)) -
        shiftright(b, i * 8).bitwiseAND(lit(255L)))
    }.reduce(_ + _)

  /** The candidate-generation stage of [[editDistancePairs]] — segment
    * equi-join + distinct, names and packed frequency signatures
    * attached — exposed so the verify cost can be probed separately
    * (FuzzyProbe in docs/PROBES.md) and alternative verifies composed.
    * This PROBE face is the only caller that wants the signatures (the
    * pigeonhole pre-filter was a measured negative result), so only it
    * pays them (`withSigs` — round-9 advice: the production path was
    * carrying two dead BIGINTs of compute and shuffle width). */
  def editDistanceCandidates(
      rows: DataFrame, id: Column, name: Column, block: Column,
      k: Int): DataFrame =
    editDistanceCandidatesRaw(rows, id, name, block, k, withSigs = true)
      .select(col("a_id"), col("b_id"), col("a_nm"), col("b_nm"),
        col("a_sig"), col("b_sig"))
      .distinct()

  /** [[editDistanceCandidates]] BEFORE the distinct: one row per
    * matching (pair, segment-combo) — a pair found by several segment
    * alignments repeats. Probe-facing (FuzzyProbe in docs/PROBES.md
    * measures where the dedup is cheapest). `withSigs` attaches the packed char-
    * frequency signatures for pigeonhole experiments; the production
    * verify path ([[editDistancePairs]]) leaves them off — narrower
    * candidate rows through the segment join and no dead signature
    * compute on the scan. */
  def editDistanceCandidatesRaw(
      rows: DataFrame, id: Column, name: Column, block: Column,
      k: Int, withSigs: Boolean = false): DataFrame = {
    require(k >= 1 && k <= 4, s"segment filter sized for k in [1,4], got $k")
    val nSeg = k + 1
    val base0 = rows.select(id.as("rid"), name.as("nm"), block.as("blk"),
      length(name).as("len"))
    val base = if (withSigs) base0.withColumn("sig", charFreqSig(col("nm")))
      else base0
    def sigAs(alias: String): Seq[Column] =
      if (withSigs) Seq(col("sig").as(alias)) else Nil
    def sigCol(alias: String): Seq[Column] =
      if (withSigs) Seq(col(alias)) else Nil
    // probe side: even split into k+1 segments; start_i = i*len div nSeg
    val probes = base.select(Seq(col("rid").as("a_id"), col("nm").as("a_nm")) ++
        sigAs("a_sig") ++ Seq(
        col("blk"), col("len").as("a_len"),
        explode(array((0 until nSeg).map(lit): _*)).as("seg_i")): _*)
      .withColumn("s0", expr(s"(seg_i * a_len) div $nSeg"))
      .withColumn("s1", expr(s"((seg_i + 1) * a_len) div $nSeg"))
      .filter(col("s1") > col("s0")) // empty segments carry no signal
      .select(Seq(col("a_id"), col("a_nm")) ++ sigCol("a_sig") ++ Seq(
        col("blk"), col("a_len"), col("seg_i"),
        expr("substring(a_nm, s0 + 1, s1 - s0)").as("seg")): _*)
    // index side: substrings matching any probe length within ±k, any
    // segment index, at start offsets satisfying the LOSSLESS alignment
    // bound |off| + |off + dl| <= k (for the pigeonhole's unedited
    // segment, edits before it >= |net shift| = |off| and edits after it
    // >= |shift at the segment end| = |off + dl|, and they sum to <= k)
    // — 39 combos instead of the naive (2k+1)²(k+1) = 75 at k=2, with
    // provably identical candidate recall.
    val combos = for {
      dl <- -k to k; i <- 0 until nSeg; off <- -k to k
      if math.abs(off) + math.abs(off + dl) <= k
    } yield struct(lit(dl).as("dl"), lit(i).as("seg_i"), lit(off).as("off"))
    val index = base.select(Seq(col("rid").as("b_id"), col("nm").as("b_nm")) ++
        sigAs("b_sig") ++ Seq(
        col("blk"), col("len").as("b_len"),
        explode(array(combos: _*)).as("c")): _*)
      .withColumn("a_len", col("b_len") + col("c.dl"))
      .withColumn("seg_i", col("c.seg_i"))
      .withColumn("s0", expr(s"(seg_i * a_len) div $nSeg + c.off"))
      .withColumn("s1", expr(s"((seg_i + 1) * a_len) div $nSeg + c.off"))
      .filter(col("a_len") >= 1 && col("s1") > col("s0") &&
        col("s0") >= 0 && col("s1") <= col("b_len"))
      .select(Seq(col("b_id"), col("b_nm")) ++ sigCol("b_sig") ++ Seq(
        col("blk"), col("a_len"), col("seg_i"),
        expr("substring(b_nm, s0 + 1, s1 - s0)").as("seg")): _*)
    // SHUFFLE-HASH, never broadcast (round 16, measured): the planner
    // estimates both sides from the un-exploded scan, so the 39-combo
    // index side auto-broadcasts — a single-threaded driver build of the
    // exploded substring relation, after which the banded-DP verify runs
    // at the PROBE SCAN's parallelism (1-2 input splits at sf0.1: wall
    // ≈ summed task time). At 100 TB the exploded index could never
    // broadcast at all. Shuffling both sides keys the join at
    // shuffle-partition parallelism at every scale; probes (k+1 combos)
    // build, index (39 combos at k=2) streams. A/B at sf0.1:
    // q131 4.43 -> 1.58 s warm (with the hash-aggregable pair fold
    // below); candidates and verified pairs bit-identical.
    probes.hint("shuffle_hash").join(index, Seq("blk", "a_len", "seg_i", "seg"))
      .filter(col("a_id") < col("b_id"))
      .select(Seq(col("a_id"), col("b_id"), col("a_nm"), col("b_nm")) ++
        sigCol("a_sig") ++ sigCol("b_sig"): _*)
  }

  /** VERIFY-FIRST dedup order (round-9, FuzzyProbe-measured): the
    * O(k·len) banded `levenshtein(a, b, k)` (early exit, -1 past k) runs
    * on the RAW candidate rows, and only then does the pair collapse to
    * one row via groupBy(a_id, b_id) + first() — names/dist are
    * functionally dependent on the ids, so first() is deterministic and
    * map-side combine folds duplicate segment alignments BEFORE the
    * shuffle. Measured at sf0.1 (2.77M raw alignments → 1.99M distinct
    * candidates → 565k verified-with-dups → 220k pairs): distinct-first
    * 3.6 s, verify-first 3.0 s — the wide candidate distinct was the
    * bottleneck, not the DP; the shuffle drops from 1.99M wide candidate
    * rows to ≤565k match rows at any scale. Two rejected alternatives,
    * measured: the [[charFreqL1]] pigeonhole pre-filter refutes only 21%
    * of candidates on this vocabulary and costs MORE than the banded DP
    * it saves (3.6 → 5.0 s — kept as probe-documented negative result);
    * a bare-id distinct + broadcast name re-attach ties groupBy-first
    * locally but silently assumes the base table stays broadcastable. */
  def editDistancePairs(
      rows: DataFrame, id: Column, name: Column, block: Column,
      k: Int): DataFrame =
    editDistanceCandidatesRaw(rows, id, name, block, k)
      .withColumn("dist", levenshtein(col("a_nm"), col("b_nm"), k).cast("long"))
      .filter(col("dist") >= 0)
      // names in the GROUP KEY, not the buffer (round 16, measured):
      // first(string) has a variable-width declarative buffer, which
      // HashAggregateExec cannot hold — the fold planned as TWO
      // SortAggregates over the full match stream (a sort each side of
      // the exchange). Names are functionally dependent on the ids, so
      // grouping by (ids, names) is the SAME grouping, keys may be
      // var-width in an UnsafeRow hash map, and the one remaining
      // buffer (dist — constant per pair; min = first = any) is a
      // long: partial/final HashAggregate with map-side combine, zero
      // sorts. Result identical row-for-row.
      .groupBy(col("a_id"), col("b_id"),
        col("a_nm").as("a_name"), col("b_nm").as("b_name"))
      .agg(min(col("dist")).as("dist"))

  /** DELTA edit-distance pairs: every pair within `k` that TOUCHES a
    * new record, with NO old×old candidate work — the
    * [[minhashNearDupsDelta]] maintenance contract for the record-
    * linkage family. One role assignment suffices: the PassJoin
    * pigeonhole holds with EITHER record as the probe (if ed(a,b) ≤ k,
    * some even segment of the probe is unedited and appears in the
    * other string within the alignment bound — the same theorem the
    * full form relies on when it keeps only the probe-id < index-id
    * orientation), so new-as-probe × all-as-index reaches every pair
    * containing a new record, including new×new. Join work is
    * delta-bounded (every candidate includes a new probe); the old
    * side pays one linear substring-generation pass — the same "narrow
    * scan of the maintained store" cost shape as the signature-store
    * delta, with the same production fix available (persist the
    * substring index, prune by segment key). Union with the EXISTING
    * pair set reproduces [[editDistancePairs]] over the full table
    * exactly (DedupSpec + the q257 gate). */
  def editDistancePairsDelta(
      oldRows: DataFrame, newRows: DataFrame, id: Column, name: Column,
      block: Column, k: Int): DataFrame = {
    val o = oldRows.select(id.as("rid"), name.as("nm"), block.as("blk"))
    val n = newRows.select(id.as("rid"), name.as("nm"), block.as("blk"))
    editDistanceCandidatesRawSides(n, o.unionByName(n), k)
      .withColumn("dist", levenshtein(col("a_nm"), col("b_nm"), k).cast("long"))
      .filter(col("dist") >= 0)
      // same hash-aggregable fold as [[editDistancePairs]] (names are
      // key, the long is the buffer — no SortAggregate)
      .groupBy(col("a_id"), col("b_id"),
        col("a_nm").as("a_name"), col("b_nm").as("b_name"))
      .agg(min(col("dist")).as("dist"))
  }

  /** [[editDistanceCandidatesRaw]] with DISTINCT probe and index
    * relations (both pre-shaped to (rid, nm, blk)): probe segments from
    * `probeRows`, substring index from `indexRows`. Pair orientation
    * stays canonical (a_id < b_id over the pooled ids), so candidates
    * from the two delta role assignments union cleanly. */
  private def editDistanceCandidatesRawSides(
      probeRows: DataFrame, indexRows: DataFrame, k: Int): DataFrame = {
    require(k >= 1 && k <= 4, s"segment filter sized for k in [1,4], got $k")
    val nSeg = k + 1
    val probes = probeRows
      .select(col("rid").as("p_id"), col("nm").as("p_nm"),
        col("blk"), length(col("nm")).as("a_len"),
        explode(array((0 until nSeg).map(lit): _*)).as("seg_i"))
      .withColumn("s0", expr(s"(seg_i * a_len) div $nSeg"))
      .withColumn("s1", expr(s"((seg_i + 1) * a_len) div $nSeg"))
      .filter(col("s1") > col("s0"))
      .select(col("p_id"), col("p_nm"), col("blk"), col("a_len"),
        col("seg_i"), expr("substring(p_nm, s0 + 1, s1 - s0)").as("seg"))
    val combos = for {
      dl <- -k to k; i <- 0 until nSeg; off <- -k to k
      if math.abs(off) + math.abs(off + dl) <= k
    } yield struct(lit(dl).as("dl"), lit(i).as("seg_i"), lit(off).as("off"))
    val index = indexRows
      .select(col("rid").as("i_id"), col("nm").as("i_nm"),
        col("blk"), length(col("nm")).as("b_len"),
        explode(array(combos: _*)).as("c"))
      .withColumn("a_len", col("b_len") + col("c.dl"))
      .withColumn("seg_i", col("c.seg_i"))
      .withColumn("s0", expr(s"(seg_i * a_len) div $nSeg + c.off"))
      .withColumn("s1", expr(s"((seg_i + 1) * a_len) div $nSeg + c.off"))
      .filter(col("a_len") >= 1 && col("s1") > col("s0") &&
        col("s0") >= 0 && col("s1") <= col("b_len"))
      .select(col("i_id"), col("i_nm"), col("blk"), col("a_len"),
        col("seg_i"), expr("substring(i_nm, s0 + 1, s1 - s0)").as("seg"))
    // same shuffle-hash discipline as [[editDistanceCandidatesRaw]]:
    // the exploded index side must never broadcast
    probes.hint("shuffle_hash").join(index, Seq("blk", "a_len", "seg_i", "seg"))
      .filter(col("p_id") =!= col("i_id"))
      .select(least(col("p_id"), col("i_id")).as("a_id"),
        greatest(col("p_id"), col("i_id")).as("b_id"),
        when(col("p_id") < col("i_id"), col("p_nm")).otherwise(col("i_nm"))
          .as("a_nm"),
        when(col("p_id") < col("i_id"), col("i_nm")).otherwise(col("p_nm"))
          .as("b_nm"))
  }

  /** PAIR-ALIGNED maximal shared substrings — the cross-width extension
    * of [[repeatedSpans]] (round-6 verdict #8). repeatedSpans proves
    * every window of a span repeats SOMEWHERE; this operator proves the
    * whole span appears CONTIGUOUSLY in one specific other document, and
    * emits it per (docA, docB) pair with both offsets — the exact
    * "duplicate passage between A and B" unit a span-cut pipeline needs
    * (suffix-array semantics of Lee et al. 2022 for spans >= n, without
    * the suffix automaton): two windows extend the same shared substring
    * iff they lie on the same DIAGONAL (posA - posB constant), so maximal
    * shared substrings are gaps-and-islands runs per (pair, diagonal).
    *
    * Plan shape: window df via one map-side-combinable groupBy; the
    * occurrence self-join is quadratic ONLY in each window's df, so
    * `maxOccurrences` drops stop-windows before the join (boilerplate
    * guard — the posting-cap/bucket-cap pattern; pass a huge cap for
    * oracle parity, where the SQL recomputation cannot model the drop).
    * Islands ride one window per (pair, diagonal) — bounded by span
    * length, never by corpus size. */
  def sharedSpans(docs: DataFrame, id: Column, text: Column, n: Int = 8,
      maxOccurrences: Int = 1000, hashKeys: Boolean = true): DataFrame = {
    val sh0 = shingleRowsPos(docs, id, text, n)
    val sh = if (hashKeys)
      sh0.select(col("id"), col("pos"), xxhash64(col("sh")).as("sh"))
    else sh0
    // cap disabled → the df filter drops nothing: skip its groupBy +
    // semi-join shuffle entirely (round 16 — the capBuckets pattern;
    // oracle-parity configs pass Int.MaxValue because the SQL
    // recomputation cannot model the drop)
    val occ =
      if (maxOccurrences == Int.MaxValue) sh
      else {
        val rare = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
          .filter(col("df") <= maxOccurrences)
          .select(col("sh"))
        sh.join(rare, Seq("sh"), "left_semi")
      }
    val a = occ.select(col("sh"), col("id").as("id_a"), col("pos").as("pos_a"))
    val b = occ.select(col("sh"), col("id").as("id_b"), col("pos").as("pos_b"))
    val pairs = a.join(b, Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        col("pos_a"), (col("pos_a") - col("pos_b")).as("diag"))
    val w = Window.partitionBy(col("id_a"), col("id_b"), col("diag"))
      .orderBy(col("pos_a"))
    pairs
      .select(col("id_a"), col("id_b"), col("diag"), col("pos_a"),
        (col("pos_a") - row_number().over(w)).as("grp"))
      .groupBy(col("id_a"), col("id_b"), col("diag"), col("grp"))
      .agg(min(col("pos_a")).as("a_start"), max(col("pos_a")).as("a_last"))
      .select(col("id_a"), col("id_b"),
        col("a_start").cast("long").as("a_start"),
        (col("a_start") - col("diag")).cast("long").as("b_start"),
        (col("a_last") - col("a_start") + n).cast("long").as("n_tokens"))
  }

  /** MinHash signatures computed the scale-friendly way: shingle rows,
    * hash once per shingle, then one codegen'd grouped aggregation with k
    * `min` columns (map-side combine). The array-HOF formulation
    * (array_min over transform) is interpreted — measured ~40× slower.
    * Output: (id, sig_0..sig_{k-1}). Docs shorter than the shingle width
    * drop out. */
  def minhashSignatures(
      docs: DataFrame, id: Column, text: Column,
      shingleWidth: Int = 3, k: Int = 16): DataFrame =
    shingleRows(docs, id, text, shingleWidth)
      .withColumn("h", pmod(hash(col("sh")).cast("long"), lit(4294967296L)))
      .groupBy(col("id"))
      .agg(
        min(pmod(col("h") * minhashA(0) + minhashB(0), lit(minhashP))).as("sig_0"),
        (1 until k).map(j =>
          min(pmod(col("h") * minhashA(j) + minhashB(j), lit(minhashP))).as(s"sig_$j")): _*)

  /** MinHash+LSH candidate pairs: signature → band keys → bucket join.
    * Default 8 bands × 2 rows: the S-curve midpoint sits at
    * (1/b)^(1/r) ≈ 0.35, so pairs with jaccard ≥ 0.5 are caught with
    * probability > 0.97 (4×4 banding would miss ~40% of them). */
  def minhashCandidates(
      docs: DataFrame, id: Column, text: Column,
      shingleWidth: Int = 3, k: Int = 16, bands: Int = 8,
      maxBucketSize: Int = 1000): DataFrame = {
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands must divide k (got k=$k, bands=$bands)")
    val r = k / bands
    val sigs = minhashSignatures(docs, id, text, shingleWidth, k)
    val keyed = sigs.select(col("id"), explode(array((0 until bands).map { b =>
      hash(struct(lit(b) +: (0 until r).map(i => col(s"sig_${b * r + i}")): _*))
    }: _*)).as("bucket"))
    pairsFromBuckets(keyed, maxBucketSize)
  }

  /** MinHash near-dups: LSH candidates verified with exact Jaccard over
    * the hashed-shingle sets (identical to string-shingle Jaccard modulo
    * ~2^-32 collisions, and arrays of longs compare much faster).
    * Signatures, band keys AND the verification sets come out of ONE
    * exploded-shingle aggregation pass — one shuffle on doc id, then the
    * bucket join and two verification joins. */
  /** Verification sets are the distinct shingle sets under a 64-bit hash
    * (xxhash64): the Jaccard equals the exact string-set Jaccard unless
    * two distinct shingles of one PAIR collide (~C(400,2)/2^64 ≈ 4e-15
    * per pair — never, in practice), while the set payload and the
    * per-pair intersection work shrink ~5× vs string sets. This is what
    * makes the output reproducible by a hash-family-free SQL oracle. */
  /** `materialize = true` (default) runs the pipeline eagerly via
    * localCheckpoint and releases the signature cache; pass false to get
    * the full lazy plan (composition / plan inspection) — the caller then
    * owns triggering execution, and the cache lives until session end. */
  def minhashNearDups(
      docs: DataFrame, id: Column, text: Column,
      threshold: Double, shingleWidth: Int = 3,
      k: Int = 16, bands: Int = 8, maxBucketSize: Int = 1000,
      materialize: Boolean = true): DataFrame = {
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands must divide k (got k=$k, bands=$bands)")
    val r = k / bands
    // One aggregation pass produces signatures AND verification sets.
    val agg = shingleRows(docs, id, text, shingleWidth)
      .withColumn("h", pmod(hash(col("sh")).cast("long"), lit(4294967296L)))
      .groupBy(col("id"))
      .agg(
        // sorted sets feed the allocation-free merge-intersect Jaccard
        sort_array(collect_set(xxhash64(col("sh")))).as("vset"),
        (0 until k).map(j =>
          min(pmod(col("h") * minhashA(j) + minhashB(j), lit(minhashP))).as(s"sig_$j")): _*)
    // Class collapse (round-3; see the shared helpers above): vset is in
    // the grouping key, so members of a class have pairwise Jaccard
    // exactly 1.0 and every cross-class member pair shares its class
    // pair's Jaccard.
    val classesLazy = collapseClasses(agg,
      col("vset") +: (0 until k).map(j => col(s"sig_$j")))
    classPipeline(classesLazy, materialize) { classes =>
      val keyed = classes.select(col("cid").as("id"), explode(array((0 until bands).map { b =>
        hash(struct(lit(b) +: (0 until r).map(i => col(s"sig_${b * r + i}")): _*))
      }: _*)).as("bucket"))
      val cands = pairsFromBuckets(keyed, maxBucketSize)
        .select(col("a_id").as("a_cid"), col("b_id").as("b_cid"))
      val sets = classes.select(col("cid"), col("vset"), col("ids"))
      val cross = expandCrossPairs(
        cands
          .join(sets.select(col("cid").as("a_cid"), col("vset").as("a_sh"),
            col("ids").as("a_ids")), Seq("a_cid"))
          .join(sets.select(col("cid").as("b_cid"), col("vset").as("b_sh"),
            col("ids").as("b_ids")), Seq("b_cid"))
          .withColumn("jaccard",
            graft.functions.JaccardSorted.jaccard_sorted(col("a_sh"), col("b_sh")))
          .filter(col("jaccard") >= threshold),
        "jaccard")
      val within = expandWithinPairs(classes, lit(1.0), "jaccard", maxBucketSize)
      within.unionByName(cross)
    }
  }

  /** The MinHash SIGNATURE STORE for one document slice: (id, vset,
    * sig_0..sig_{k-1}) — the per-document state an incremental dedup
    * ledger persists alongside its pair table, built by the same one-pass
    * exploded-shingle aggregation as [[minhashNearDups]]. Signatures and
    * verification sets are per-document and deterministic, so a store
    * built slice-by-slice equals one built in a single pass — which is
    * what lets [[minhashNearDupsDeltaFromSigs]] reuse an OLD slice's
    * store untouched while only the delta slice pays shingling. */
  def minhashSigSets(
      docs: DataFrame, id: Column, text: Column,
      shingleWidth: Int = 3, k: Int = 16): DataFrame =
    shingleRows(docs, id, text, shingleWidth)
      .withColumn("h", pmod(hash(col("sh")).cast("long"), lit(4294967296L)))
      .groupBy(col("id"))
      .agg(
        sort_array(collect_set(xxhash64(col("sh")))).as("vset"),
        (0 until k).map(j =>
          min(pmod(col("h") * minhashA(j) + minhashB(j), lit(minhashP))).as(s"sig_$j")): _*)

  /** DELTA near-dup pairs from signature stores: every Jaccard >=
    * threshold pair that TOUCHES a new document, generated WITHOUT any
    * old×old candidate work AND without re-shingling the old corpus —
    * `oldSigs` is the maintained [[minhashSigSets]] store (memoized /
    * on disk), `newSigs` the delta slice's. New-side band-bucket rows
    * join against the combined bucket table, so only buckets containing
    * a new document produce join work; at 100 TB the per-ingest cost is
    * O(delta shingling + delta × bucket occupancy) plus one narrow scan
    * of the cached store for bucket keys — never O(corpus²) and never a
    * corpus-sized shingle pass. (A production ledger would additionally
    * keep the bucket posting table partitioned by bucket, making even
    * that scan incremental; at the memo layer the store scan is
    * recompute-free cached-partition reads.) Union with the EXISTING
    * pair ledger reproduces [[minhashNearDups]] over the full corpus
    * exactly (same family, same banding, caps disabled) — the q130
    * gate's claim. */
  def minhashNearDupsDeltaFromSigs(
      oldSigs: DataFrame, newSigs: DataFrame, threshold: Double,
      k: Int = 16, bands: Int = 8, maxBucketSize: Int = 1000,
      materialize: Boolean = true): DataFrame = {
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands must divide k (got k=$k, bands=$bands)")
    val r = k / bands
    // only the DELTA store is materialized here (bucket side + verify
    // joins reference it); the old store is the caller's maintained state
    val nw = if (materialize) newSigs.cutLineage() else newSigs
    val agg = oldSigs.withColumn("is_new", lit(false))
      .unionByName(nw.withColumn("is_new", lit(true)))
    val keyed = capBuckets(
      agg.select(col("id"), col("is_new"),
        explode(array((0 until bands).map { b =>
          hash(struct(lit(b) +: (0 until r).map(i => col(s"sig_${b * r + i}")): _*))
        }: _*)).as("bucket")),
      maxBucketSize)
    val newSide = keyed.filter(col("is_new"))
      .select(col("id").as("n_id"), col("bucket"))
    val anySide = keyed.select(col("id").as("o_id"), col("bucket"))
    val cands = newSide.join(anySide, Seq("bucket"))
      .filter(col("n_id") =!= col("o_id"))
      .select(least(col("n_id"), col("o_id")).as("a_id"),
        greatest(col("n_id"), col("o_id")).as("b_id"))
      .distinct()
    val sets = agg.select(col("id"), col("vset"))
    cands
      .join(sets.select(col("id").as("a_id"), col("vset").as("a_sh")), Seq("a_id"))
      .join(sets.select(col("id").as("b_id"), col("vset").as("b_sh")), Seq("b_id"))
      .withColumn("jaccard",
        graft.functions.JaccardSorted.jaccard_sorted(col("a_sh"), col("b_sh")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Band-bucket POSTING table for a signature store — the production
    * layout the [[minhashNearDupsDeltaFromSigs]] scaladoc declares
    * ("keep the bucket posting table partitioned by bucket, making even
    * that scan incremental"), made materializable: one row per
    * (document, band) with the band's bucket key and its PREFIX
    * `bp = pmod(bucket, prefixes)`. Raw bucket values are
    * hash-cardinality; the prefix folds them into `prefixes` sort-key
    * values, and because bp is a pure function of bucket, EVERY member
    * of a bucket shares one prefix — so a delta fold that touches a set
    * of buckets reads exactly the matching prefixes and bucket-size caps
    * stay exact on the pruned subset. */
  def minhashPostings(sigs: DataFrame, k: Int = 16, bands: Int = 8,
      prefixes: Int = 64): DataFrame = {
    require(bands >= 1 && bands <= k && k % bands == 0,
      s"bands must divide k (got k=$k, bands=$bands)")
    val r = k / bands
    sigs.select(col("id"),
        explode(array((0 until bands).map { b =>
          hash(struct(lit(b) +: (0 until r).map(i => col(s"sig_${b * r + i}")): _*))
        }: _*)).as("bucket"))
      .withColumn("bp", pmod(col("bucket"), lit(prefixes)))
  }

  /** [[minhashNearDupsDeltaFromSigs]] against a MAINTAINED POSTING
    * TABLE (sorted by `bp` on disk — LedgerStore writes it): the
    * delta's band keys are computed fresh, their DISTINCT PREFIXES are
    * a bounded driver fetch (≤ `prefixes` ints), and the old side reads
    * ONLY the matching prefixes — a `bp IN (…)` filter the parquet scan
    * pushes down, so on a slice of several row groups the statistics
    * skip the rest and the base-sized "narrow scan of the cached store
    * for bucket keys" becomes reads whose volume tracks the delta's
    * bucket spread, not the corpus. Old-side VERIFICATION sets join
    * from the sig store by id — only bucket-mates of the delta survive
    * to that join. Identical output to the FromSigs form (same keys,
    * same caps on the touched buckets — untouched buckets produce no
    * candidates — same JaccardSorted verify); LedgerStoreSpec pins the
    * equality through the on-disk fold. */
  def minhashNearDupsDeltaFromPostings(
      oldPostings: DataFrame, oldSigs: DataFrame, newSigs: DataFrame,
      threshold: Double, k: Int = 16, bands: Int = 8,
      maxBucketSize: Int = 1000, prefixes: Int = 64,
      materialize: Boolean = true): DataFrame = {
    val nw = if (materialize) newSigs.cutLineage() else newSigs
    val newKeys = minhashPostings(nw, k, bands, prefixes)
    // bounded driver metadata: at most `prefixes` distinct values
    val touched = newKeys.select(col("bp")).distinct()
      .collect().map(_.getInt(0)).toSeq
    val oldKeys = oldPostings.filter(col("bp").isin(touched: _*))
      .select(col("id"), col("bucket")).withColumn("is_new", lit(false))
    val keyed = capBuckets(
      oldKeys.unionByName(newKeys.select(col("id"), col("bucket"))
        .withColumn("is_new", lit(true))),
      maxBucketSize)
    val newSide = keyed.filter(col("is_new"))
      .select(col("id").as("n_id"), col("bucket"))
    val anySide = keyed.select(col("id").as("o_id"), col("bucket"))
    val cands = newSide.join(anySide, Seq("bucket"))
      .filter(col("n_id") =!= col("o_id"))
      .select(least(col("n_id"), col("o_id")).as("a_id"),
        greatest(col("n_id"), col("o_id")).as("b_id"))
      .distinct()
    val sets = oldSigs.select(col("id"), col("vset"))
      .unionByName(nw.select(col("id"), col("vset")))
    cands
      .join(sets.select(col("id").as("a_id"), col("vset").as("a_sh")), Seq("a_id"))
      .join(sets.select(col("id").as("b_id"), col("vset").as("b_sh")), Seq("b_id"))
      .withColumn("jaccard",
        graft.functions.JaccardSorted.jaccard_sorted(col("a_sh"), col("b_sh")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** [[minhashNearDupsDeltaFromSigs]] with both signature stores built in
    * place from a flagged document table — the one-shot face (specs, ad
    * hoc runs). Steady-state ingest should maintain the old store and
    * call the FromSigs form; this wrapper re-shingles both slices. */
  def minhashNearDupsDelta(
      docs: DataFrame, id: Column, text: Column, isNew: Column,
      threshold: Double, shingleWidth: Int = 3,
      k: Int = 16, bands: Int = 8, maxBucketSize: Int = 1000,
      materialize: Boolean = true): DataFrame = {
    val flagged = docs.select(id.as("id"), text.as("text"), isNew.as("is_new"))
    val oldLazy = minhashSigSets(flagged.filter(!col("is_new")),
      col("id"), col("text"), shingleWidth, k)
    val old = if (materialize) oldLazy.cutLineage() else oldLazy
    val nw = minhashSigSets(flagged.filter(col("is_new")),
      col("id"), col("text"), shingleWidth, k)
    minhashNearDupsDeltaFromSigs(old, nw, threshold, k, bands,
      maxBucketSize, materialize)
  }

  /** Exact Jaccard over distinct-element arrays. */
  def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") /
      size(array_union(a, b)).cast("double")

  /** n-gram Jaccard near-dups within an explicit blocking key (e.g.
    * source, length bucket): the non-probabilistic small-block variant.
    *
    * Round-4: the shingle sets are 64-bit xxhash64 hashes built by the
    * same exploded-rows aggregation as [[minhashNearDups]] (the string-
    * array `shingles` HOF is CodegenFallback, and string-set intersection
    * was the heaviest per-pair kernel in the bench) — sorted long arrays
    * feed the allocation-free merge-intersect [[graft.functions.JaccardSorted]].
    * The Jaccard equals the string-set Jaccard unless two distinct
    * shingles of one PAIR collide (~4e-15), so a hash-free SQL oracle
    * still reproduces it. Docs shorter than the shingle width drop out
    * before the join: identical output for any `threshold > 0`, but at
    * exactly `threshold = 0.0` the (useless) all-pairs rows that paired a
    * short doc at jaccard 0.0 are no longer emitted. */
  def ngramJaccardPairs(
      docs: DataFrame, id: Column, text: Column, block: Column,
      threshold: Double, shingleWidth: Int = 3,
      materialize: Boolean = true): DataFrame = {
    val setsLazy = shingleRows(docs, id, text, shingleWidth,
        carry = Seq("blk" -> block))
      .groupBy(col("id"), col("blk"))
      .agg(sort_array(collect_set(xxhash64(col("sh")))).as("sh"))
    // both join sides reference the set table — materialize it once
    // (explode+window+agg otherwise run twice), as in the sibling pipelines
    val sets = if (materialize) setsLazy.cutLineage() else setsLazy
    val a = sets.select(col("id").as("a_id"), col("blk"), col("sh").as("a_sh"))
    val b = sets.select(col("id").as("b_id"), col("blk"), col("sh").as("b_sh"))
    a.join(b, Seq("blk"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("jaccard",
        graft.functions.JaccardSorted.jaccard_sorted(col("a_sh"), col("b_sh")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** Containment (overlap-coefficient) pairs within a blocking key:
    * shared / min(|A|, |B|) over the same hashed shingle sets as
    * [[ngramJaccardPairs]] — the ASYMMETRIC relation Jaccard misses. A
    * short document fully quoted inside a long one has tiny Jaccard
    * (union is large) but containment ≈ 1; training-data dedup wants
    * both signals. `direction` names the contained side ('a_in_b' when A
    * is the smaller set, 'b_in_a' when B is, 'same_size' on ties).
    * Containment is ONE IEEE division of two exact integers; shared and
    * set sizes ride along as BIGINTs so the caller (and the oracle) can
    * re-derive it. Same bounded-block face as q41; the winnowing
    * pipeline is the scale path for containment detection. */
  def containmentPairs(
      docs: DataFrame, id: Column, text: Column, block: Column,
      threshold: Double, shingleWidth: Int = 3,
      materialize: Boolean = true): DataFrame = {
    val setsLazy = shingleRows(docs, id, text, shingleWidth,
        carry = Seq("blk" -> block))
      .groupBy(col("id"), col("blk"))
      .agg(sort_array(collect_set(xxhash64(col("sh")))).as("sh"))
    val sets = if (materialize) setsLazy.cutLineage() else setsLazy
    val a = sets.select(col("id").as("a_id"), col("blk"), col("sh").as("a_sh"))
    val b = sets.select(col("id").as("b_id"), col("blk"), col("sh").as("b_sh"))
    a.join(b, Seq("blk"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"),
        size(array_intersect(col("a_sh"), col("b_sh"))).cast("long").as("shared"),
        size(col("a_sh")).cast("long").as("n_a"),
        size(col("b_sh")).cast("long").as("n_b"))
      .withColumn("containment",
        col("shared").cast("double") /
          least(col("n_a"), col("n_b")).cast("double"))
      .filter(col("containment") >= threshold)
      .withColumn("direction",
        when(col("n_a") < col("n_b"), "a_in_b")
          .when(col("n_b") < col("n_a"), "b_in_a")
          .otherwise("same_size"))
  }

  /** Exact Jaccard similarity join with LOSSLESS prefix filtering — the
    * scale path for EXACT set-similarity output (the PPJoin family;
    * Chaudhuri et al., "A Primitive Operator for Similarity Joins", ICDE
    * 2006). [[ngramJaccardPairs]] is all-pairs within a blocking key and
    * exists as a bounded correctness face; this operator produces the SAME
    * exact answer with NO blocking key and no all-pairs blowup:
    *
    *   1. hash each doc's distinct shingles, count global document
    *      frequency per shingle (one map-side-combinable groupBy);
    *   2. order every doc's shingle set by ascending (df, hash) — a
    *      single GLOBAL total order by rarity;
    *   3. a pair with Jaccard >= tau must share a token inside each
    *      side's first `len - ceil(tau*len) + 1` tokens under ANY common
    *      total order (pigeonhole on the overlap lower bound
    *      |A∩B| >= tau/(1+tau)*(|A|+|B|)), so candidates are generated by
    *      an equi-join on PREFIX tokens only — and because the order is
    *      rarity-first, prefix tokens are precisely the low-df ones, so
    *      the join fans out on rare tokens and stop-word shingles never
    *      generate candidates;
    *   4. a size filter (tau*max(|A|,|B|) <= min(|A|,|B|), exact integer
    *      cross-multiplication) prunes impossible pairs before verify;
    *   5. surviving candidate pairs (deduped) are verified with the
    *      allocation-free merge-intersect [[graft.functions.JaccardSorted]]
    *      over the full sorted hash arrays.
    *
    * Prefix length uses exact integer arithmetic on the rational
    * threshold `tauNum/tauDen` (ceil(a/b) = (a+b-1) div b), so the filter
    * is provably complete — the output equals the all-pairs answer
    * exactly, which is what the oracle checks. At 100 TB the candidate
    * join's fan-out is bounded by the df of the RAREST tokens of each
    * set, not by corpus size; the final double is one IEEE division of
    * two exact integers (JaccardSorted), identical across engines. */
  def prefixJaccardJoin(
      docs: DataFrame, id: Column, text: Column,
      tauNum: Int, tauDen: Int, shingleWidth: Int = 3,
      materialize: Boolean = true): DataFrame = {
    require(tauNum > 0 && tauDen > 0 && tauNum <= tauDen,
      s"threshold must be a rational in (0, 1], got $tauNum/$tauDen")
    val threshold = tauNum.toDouble / tauDen
    val rows = shingleRows(docs, id, text, shingleWidth)
      .select(col("id"), xxhash64(col("sh")).as("h"))
      .distinct()
    val df = rows.groupBy(col("h")).agg(count(lit(1)).as("df"))
    // one groupBy builds BOTH orderings: rarity-first for the prefix,
    // hash-sorted for the merge-intersect verify
    val setsLazy = rows.join(df, Seq("h"))
      .groupBy(col("id"))
      .agg(sort_array(collect_set(struct(col("df"), col("h")))).as("rare"))
      .select(col("id"),
        expr("transform(rare, x -> x.h)").as("by_rarity"),
        sort_array(expr("transform(rare, x -> x.h)")).as("sh"),
        size(col("rare")).cast("long").as("len"))
      .withColumn("prefix_len",
        // ceil(tau*len) in exact integers: Column./ is DOUBLE division,
        // so the ceil rides SQL `div` (operands positive -> floor)
        col("len") - expr(s"(len * $tauNum + $tauDen - 1) div $tauDen") + 1)
    // referenced three times (prefix explode + both verify sides)
    val sets = if (materialize) setsLazy.cutLineage() else setsLazy
    val prefixes = sets
      .select(col("id"), col("len"),
        posexplode(col("by_rarity")).as(Seq("pos", "h")))
      .filter(col("pos") < col("prefix_len"))
      .select(col("id"), col("len"), col("h"))
    val cands = prefixes.as("a").join(prefixes.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id") &&
          greatest(col("a.len"), col("b.len")) * tauNum <=
            least(col("a.len"), col("b.len")) * tauDen)
      .select(col("a.id").as("a_id"), col("b.id").as("b_id"))
      .distinct()
    cands
      .join(sets.select(col("id").as("a_id"), col("sh").as("a_sh")), Seq("a_id"))
      .join(sets.select(col("id").as("b_id"), col("sh").as("b_sh")), Seq("b_id"))
      .withColumn("jaccard",
        graft.functions.JaccardSorted.jaccard_sorted(col("a_sh"), col("b_sh")))
      .filter(col("jaccard") >= threshold)
      .select(col("a_id"), col("b_id"), col("jaccard"))
  }

  /** SimHash signatures the scale-friendly way: explode tokens, collapse
    * multiplicity (vocab << token count), then ONE packed typed Aggregator
    * accumulates all 64 bit counters per document in a primitive loop
    * ([[graft.functions.SimhashBits]]). The previous 64-conditional-sum
    * formulation generated update code too wide to JIT and was the
    * round-1 bench's slowest stage (22 s at sf0.1).
    *
    * `tokenHash` defaults to xxhash64 (fastest); pass
    * [[graft.text.TextFunctions.portableTokenHash]] when the signature
    * must be reproducible outside Spark (oracle parity). */
  def simhashSignatures(
      docs: DataFrame, id: Column, text: Column,
      tokenHash: Column => Column = xxhash64(_)): DataFrame = {
    val simhash = udaf(graft.functions.SimhashBits)
    docs
      .select(id.as("id"), explode(graft.text.TextFunctions.tokens(text)).as("tok"))
      // group on the raw token and hash AFTER the multiplicity collapse:
      // the hash (an md5 + 8 hex parses in the portable config) then runs
      // once per distinct (id, token), not once per token occurrence —
      // identical signatures (same (h, cnt) multiset reaches the packed
      // Aggregator) at a fraction of the hashing work.
      .groupBy(col("id"), col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .select(col("id"), tokenHash(col("tok")).as("h"), col("cnt"))
      .groupBy(col("id"))
      .agg(simhash(col("h"), col("cnt")).as("sig"))
  }

  /** SimHash near-dups with a LOSSLESS pigeonhole guarantee: the 64-bit
    * signature is banded into `maxHamming + 1` chunks, so any pair within
    * Hamming distance `maxHamming` has at least one chunk with zero
    * differing bits and survives the bucket join. (The previous fixed
    * 4×16-bit banding silently missed pairs at distance 4..maxHamming for
    * radii > 3 — round-2 advice.) Wide radii mean narrow chunks and
    * therefore big buckets: fine for verification configs, but keep
    * maxHamming ≤ ~8 in production at scale. */
  def simhashNearDups(
      docs: DataFrame, id: Column, text: Column,
      maxHamming: Int = 3, maxBucketSize: Int = 1000,
      tokenHash: Column => Column = xxhash64(_),
      materialize: Boolean = true): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 63,
      s"maxHamming must be in [0, 63], got $maxHamming")
    val nChunks = maxHamming + 1
    val widths = Array.fill(nChunks)(64 / nChunks)
    (0 until 64 % nChunks).foreach(i => widths(i) += 1)
    val offsets = widths.scanLeft(0)(_ + _).init
    def chunkBits(c: Int): Column = {
      val shifted = shiftrightunsigned(col("sig"), offsets(c))
      if (widths(c) == 64) shifted
      else shifted.bitwiseAND(lit((1L << widths(c)) - 1))
    }
    // Class collapse (round-3; shared helpers above). The 8-byte
    // signature rides INTO the bucket join, so the Hamming radius filter
    // runs BEFORE the pair-dedup shuffle, and the id lists ride through
    // (typically 1-element arrays) so no join-back is needed.
    // `maxBucketSize` guards both quadratic edges: signature-classes per
    // chunk bucket (cross-class join fan-out) and ids per class
    // (within-class C(n,2) expansion of a duplicate storm).
    val classesLazy = collapseClasses(
      simhashSignatures(docs, id, text, tokenHash), Seq(col("sig")))
    classPipeline(classesLazy, materialize) { classes =>
      val keyed = capBuckets(
        classes.select(col("cid"), col("sig"), col("ids"),
          explode(array((0 until nChunks).map { c =>
            struct(lit(c).as("chunk"), chunkBits(c).as("bits"))
          }: _*)).as("bucket")),
        maxBucketSize)
      val a = keyed.select(col("cid").as("a_cid"), col("sig").as("a_sig"),
        col("ids").as("a_ids"), col("bucket"))
      val b = keyed.select(col("cid").as("b_cid"), col("sig").as("b_sig"),
        col("ids").as("b_ids"), col("bucket"))
      val classPairs = a.join(b, Seq("bucket"))
        .filter(col("a_cid") < col("b_cid"))
        .withColumn("hamming", bit_count(col("a_sig").bitwiseXOR(col("b_sig"))).cast("long"))
        .filter(col("hamming") <= maxHamming)
        .select(col("a_cid"), col("b_cid"), col("a_ids"), col("b_ids"), col("hamming"))
        .dropDuplicates("a_cid", "b_cid")
      val cross = expandCrossPairs(classPairs, "hamming")
      // within-class pairs: identical signatures are Hamming 0 by definition
      val within = expandWithinPairs(classes, lit(0L), "hamming", maxBucketSize)
      within.unionByName(cross)
    }
  }

  /** Winnowing near-dups: documents sharing ≥ `minShared` sampled
    * rolling-hash fingerprints (containment-style overlap — catches a
    * copied paragraph inside an otherwise different document, which
    * whole-document MinHash dilutes away). Explode fingerprints → bucket
    * join → count shared per pair.
    *
    * Runs the native O(n) rolling-hash kernel
    * ([[graft.functions.WinnowFingerprints]]) — there is no separate
    * "portable" hash family: the kernel's mod-2^64 Rabin-Karp polynomial
    * over UTF-8 bytes is itself recomputable in engine-independent SQL
    * (128-bit integer arithmetic over the hex-encoded bytes; see the q57
    * oracle in [[graft.text.TextQueries]]), so the production hash IS the
    * oracle-parity hash. The round-4 md5-per-position variant this
    * replaces cost one digest per character (37 s vs 3.7 s at sf0.1).
    *
    * Documents with an IDENTICAL fingerprint set collapse into one class
    * before the bucket join (round-5, completing the round-3
    * simhash/minhash pattern — the x20-duplication stress sweep showed
    * winnow at 89.6 s where the class-collapsed pipelines sat under 15 s:
    * a duplicate storm put every copy of a document into every one of its
    * ~n/w buckets, and the join edge is quadratic per bucket). A class
    * rides the join once; identical-set members pairwise share the whole
    * set, and every cross-class member pair shares its class pair's
    * count, so the output is EQUAL, not approximate. Duplicates also no
    * longer count against the bucket cap.
    *
    * `materialize = true` (default) single-pass-evaluates the class table
    * via eager `localCheckpoint`: the extract+collapse pipeline otherwise
    * runs once per consumer. The checkpoint is non-reliable — losing an
    * executor after construction fails downstream reads instead of
    * recomputing — so long-lived cluster jobs on preemptible nodes should
    * pass `materialize = false` (lazy, fault-tolerant, double-evaluated)
    * or checkpoint reliably themselves; same trade on every `materialize`
    * switch in this file. */
  def winnowNearDups(
      docs: DataFrame, id: Column, text: Column,
      minShared: Int = 2, k: Int = 16, w: Int = 8,
      maxBucketSize: Int = 1000,
      materialize: Boolean = true): DataFrame = {
    // array_distinct BEFORE grouping: winnowing dedups only consecutive
    // picks, so a repetitive document can emit the same fingerprint at
    // several positions — counted with multiplicity that would fake
    // minShared for a pair sharing just one distinct fingerprint. Sorted,
    // the distinct set doubles as the class key.
    val classesLazy = collapseClasses(
      docs.select(id.as("id"), array_sort(array_distinct(
        graft.functions.WinnowFingerprints.winnow_fingerprints(text, k, w))).as("fps")),
      Seq(col("fps")))
    classPipeline(classesLazy, materialize) { classes =>
      val keyed = capBuckets(
        classes.select(col("cid"), col("ids"), explode(col("fps")).as("bucket")),
        maxBucketSize)
      val a = keyed.select(col("cid").as("a_cid"), col("ids").as("a_ids"), col("bucket"))
      val b = keyed.select(col("cid").as("b_cid"), col("ids").as("b_ids"), col("bucket"))
      val classPairs = a.join(b, Seq("bucket"))
        .filter(col("a_cid") < col("b_cid"))
        .groupBy(col("a_cid"), col("b_cid"))
        .agg(first(col("a_ids")).as("a_ids"), first(col("b_ids")).as("b_ids"),
          count(lit(1)).as("shared_fingerprints"))
        .filter(col("shared_fingerprints") >= minShared)
      val cross = expandCrossPairs(classPairs, "shared_fingerprints")
      // within-class pairs share the ENTIRE fingerprint set by definition
      val within = expandWithinPairs(classes,
        size(col("fps")).cast("long"), "shared_fingerprints",
        maxBucketSize, keepIf = size(col("fps")) >= minShared)
      within.unionByName(cross)
    }
  }

  /** Connected components over a near-dup pair graph — the clustering
    * step a dedup pipeline runs AFTER pair generation: documents in one
    * component keep/drop together and the minimum id becomes the
    * canonical survivor. Returns (id, comp) for every vertex that
    * appears in an edge (isolated documents are their own canonical by
    * definition; callers union them in if they need the full ledger).
    *
    * Deterministic min-label propagation: each round every vertex takes
    * the minimum label in its closed neighborhood; labels only decrease,
    * so the fixpoint is exact components. Rounds ≈ graph diameter —
    * near-dup clusters are near-cliques (diameter ≤ ~3), so the loop is
    * short; a long-chain adversary costs O(diameter) rounds — for THAT
    * regime use [[componentsStars]], the alternating small-star/large-
    * star formulation whose round count is logarithmic in the component
    * size (DedupSpec pins the two algorithms equivalent). Per round: ONE
    * job — a join on the CLOSED neighborhood (self-loops added once, up
    * front) + one partial-aggregated groupBy; the self-loop row carries
    * each vertex's previous label through the aggregation, so change
    * detection needs no second reference to the label table and the
    * carried logical plan grows LINEARLY with rounds, not exponentially
    * (a two-reference formulation doubles the plan every round — it
    * OOM'd Catalyst's plan stringification near diameter 10). The
    * driver sees only the changed-row COUNT (loop control, not data).
    *
    * Storage is bounded at two generations, not O(rounds): each round's
    * labels are `persist`ed and the superseded round unpersisted as soon
    * as the next is materialized. Plan depth (analysis cost + recompute-
    * on-block-loss) is cut every `checkpointInterval` rounds by an eager
    * [[graft.util.Checkpoints.cut]] (executor-local by default; set
    * `spark.graft.reliableCheckpoints` + a checkpoint dir for the
    * durable, executor-loss-surviving variant on long cluster runs) —
    * local anchors are pinned until session end (no public API frees
    * one), but there are at most rounds/interval of them and a
    * near-clique dedup graph converges before the first. */
  def components(edges: DataFrame, a: Column, b: Column,
      checkpointInterval: Int = 10): DataFrame = {
    require(checkpointInterval >= 1,
      s"checkpointInterval must be >= 1, got $checkpointInterval")
    val sym = edges.select(a.as("src"), b.as("dst"))
      .unionByName(edges.select(b.as("src"), a.as("dst")))
    val verts = sym.select(col("src").as("id")).distinct()
    // The edge table dwarfs the label table (E >= V on every non-trivial
    // graph), so cache it ALREADY partitioned and sorted on the join key:
    // the cached InMemoryTableScan reports that partitioning/ordering, and
    // every round's sort-merge join then shuffles only the labels side —
    // the per-round cost at cluster scale is O(V) movement, not O(E).
    val closed = sym
      .unionByName(verts.select(col("id").as("src"), col("id").as("dst")))
      .repartition(col("dst"))
      .sortWithinPartitions(col("dst"))
      .persist()
    // `cur` holds this round's storage handle; `labels` the projection
    // downstream rounds read.
    var cur = verts.withColumn("comp", col("id")).persist()
    var labels = cur
    var round = 0
    var changed = 1L
    while (changed > 0) {
      round += 1
      val nextPlan = componentsRound(closed, labels)
      val next =
        if (round % checkpointInterval == 0) nextPlan.cutLineage()
        else nextPlan.persist()
      changed = next.filter(col("comp") < col("_old")).count() // materializes
      cur.unpersist(false) // superseded round: blocks freed immediately
      cur = next
      labels = next.drop("_old")
    }
    // truncate the returned lineage so the loop state can be released;
    // the caller owns the one surviving checkpoint
    val out = labels.cutLineage()
    cur.unpersist(false)
    closed.unpersist(false)
    out
  }

  /** Connected components via alternating LARGE-STAR / SMALL-STAR edge
    * rewrites (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", MRC model) — the diameter-proof alternative to
    * [[components]]: round count is logarithmic in component size
    * instead of linear in diameter, so a 10⁶-vertex chain converges in
    * ~20 rounds, not 10⁶. Same contract: (id, comp = component minimum)
    * for every vertex on an edge.
    *
    *  - large-star: every strictly-LARGER neighbor of a vertex attaches
    *    to the minimum of its closed neighborhood;
    *  - small-star: every SMALLER neighbor (and the vertex itself)
    *    attaches to the minimum of the smaller neighbors.
    *
    * Both preserve connectivity and only move edges toward smaller ids;
    * the fixpoint is a star per component rooted at its minimum. Each
    * round is two groupBy+join passes over the CURRENT edge set — which
    * SHRINKS as stars collapse (dedup graphs: fast). Unlike
    * [[components]]' single-reference round, a star round references
    * the edge frame ~a dozen times (symmetric view × min join × the
    * small-star union), so lineage MUST be cut every round: each round
    * lands in an eager localCheckpoint, leaving O(log n) edge-set-sized
    * anchors over the whole run (pinned until session end, but the edge
    * set shrinks geometrically). Convergence = the canonical edge set is
    * unchanged (count + exceptAll on already-materialized frames).
    *
    * Prefer [[components]] for near-clique dedup graphs (fewer passes
    * per round, O(1) rounds there anyway); prefer this for deep/chained
    * graphs — substring-dup chains, citation paths — where diameter is
    * unbounded. */
  def componentsStars(edges: DataFrame, a: Column, b: Column): DataFrame = {
    var e = edges.select(least(a, b).as("u"), greatest(a, b).as("v"))
      .filter(col("u") =!= col("v")).distinct().cutLineage()
    var eCount = e.count()
    var done = eCount == 0L
    while (!done) {
      // large-star over the symmetric view
      val sym = e.select(col("u").as("src"), col("v").as("dst"))
        .unionByName(e.select(col("v").as("src"), col("u").as("dst")))
      val mins = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
        .select(col("src"), least(col("mn"), col("src")).as("m"))
      val ls = sym.join(mins, Seq("src"))
        .filter(col("dst") > col("src"))
        .select(col("m").as("u"), col("dst").as("v")) // m <= src < dst
        .distinct()
      // small-star over the larger→smaller direction
      val dir = ls.select(col("v").as("src"), col("u").as("dst"))
      val mins2 = dir.groupBy(col("src")).agg(min(col("dst")).as("m"))
      val ss = dir.join(mins2, Seq("src"))
        .select(col("m").as("u"), col("dst").as("v")) // m <= dst < src
        .filter(col("u") =!= col("v"))                // dst == m: that IS m
        .unionByName(mins2.select(col("m").as("u"), col("src").as("v")))
        .distinct()
      val next = ss.cutLineage() // mandatory per-round lineage cut
      val nextCount = next.count()
      done = nextCount == eCount && next.exceptAll(e).isEmpty
      e = next
      eCount = nextCount
    }
    // fixpoint edges are (component-min, member) stars
    e.select(col("v").as("id"), col("u").as("comp"))
      .unionByName(
        e.select(col("u").as("comp")).distinct()
          .select(col("comp").as("id"), col("comp")))
      .distinct()
      .cutLineage()
  }

  /** One min-label round: join the closed neighborhood to the current
    * labels, take the per-vertex minimum; the self-loop row (dst == src)
    * carries the vertex's previous label out as `_old` for change
    * detection. Shared with [[componentsRoundPlan]]. */
  private def componentsRound(closed: DataFrame, labels: DataFrame): DataFrame =
    closed
      .join(labels.select(col("id").as("dst"), col("comp")), Seq("dst"))
      .groupBy(col("src"))
      .agg(min(col("comp")).as("comp"),
        min(when(col("dst") === col("src"), col("comp"))).as("_old"))
      .select(col("src").as("id"), col("comp"), col("_old"))

  /** The lazy plan of one [[components]] round over the initial labels —
    * the plan-evidence face (the loop itself materializes per round, so
    * its executed plans are not visible from a single lazy frame). The
    * Exchange+Sort under the closed-neighborhood side is the one the loop
    * pays ONCE at cache time; per round only the labels side moves. */
  def componentsRoundPlan(edges: DataFrame, a: Column, b: Column): DataFrame = {
    val sym = edges.select(a.as("src"), b.as("dst"))
      .unionByName(edges.select(b.as("src"), a.as("dst")))
    val verts = sym.select(col("src").as("id")).distinct()
    val closed = sym
      .unionByName(verts.select(col("id").as("src"), col("id").as("dst")))
      .repartition(col("dst"))
      .sortWithinPartitions(col("dst"))
    componentsRound(closed, verts.withColumn("comp", col("id")))
  }

  /** Incremental connected-components maintenance: fold DELTA edges into
    * an EXISTING labeling without re-clustering the old graph. The
    * standard contraction argument: each old component is already a star
    * rooted at its minimum id, so it suffices to (1) map every delta
    * edge endpoint to its current label (its own id if unlabeled — i.e.
    * new), (2) run components on that CONTRACTED graph — whose size is
    * bounded by the delta edge count, never by the corpus — and (3)
    * re-root the old labels through the contracted result. Because an
    * old label IS the minimum id of its old component, the contracted
    * minimum equals the merged component's true global minimum: the
    * output is bit-identical to a full re-run on old ∪ delta edges
    * (which is exactly what the q130 oracle recomputes).
    *
    * `labels` is the prior (id, comp) ledger; `ids` is the full vertex
    * universe (old ∪ new) so isolated new vertices label themselves.
    * Shuffle shape: two label-lookup joins on endpoint id, the contracted
    * run (delta-sized), one re-rooting join on the old label — the old
    * corpus is touched only by the O(V) lookup joins, never by pair or
    * fixpoint work.
    *
    * `materialize = true` (default) eagerly checkpoints the CONTRACTED
    * edge list before the fixpoint. Without it, every reference the
    * [[components]] loop makes to its edge frame (the closed-neighborhood
    * cache fill, the vertex seed) re-executes the caller's whole
    * delta-pair plan — bucket join, verify joins and all — turning a
    * delta-sized fold into several delta-pipeline re-runs (measured 6–8 s
    * of a 9.9 s q130 line at sf0.1, round-7 verdict #1). The contracted
    * list is bounded by the delta edge count, so the checkpoint is tiny
    * by construction. The raw delta edge list is checkpointed first:
    * when it is EMPTY — or when its contraction is (every delta edge
    * lies inside one component) — the fixpoint is skipped and the base
    * labeling returns as is, the same rows the contraction would map
    * through an empty component table; an empty raw list also skips the
    * base joins that contract it. */
  def componentsIncremental(
      labels: DataFrame, ids: DataFrame, idCol: Column,
      edges: DataFrame, a: Column, b: Column,
      materialize: Boolean = true): DataFrame = {
    val lab = labels.select(col("id").as("_lid"), col("comp").as("_lcomp"))
    val base = ids.select(idCol.as("id"))
      .join(lab, col("id") === col("_lid"), "left")
      .select(col("id"), coalesce(col("_lcomp"), col("id")).as("lab0"))
    val unchanged = base.select(col("id"), col("lab0").as("comp"))
    val raw = edges.select(a.as("ea"), b.as("eb"))
    val d = if (materialize) raw.cutLineage() else raw
    // no delta edge at all: nothing to contract, and the base joins
    // below never run (the check reads the cut, so only a
    // materialized list is probed)
    if (materialize && d.isEmpty) return unchanged
    val eLazy = d
      .join(base.select(col("id").as("ea"), col("lab0").as("lab_a")), Seq("ea"))
      .join(base.select(col("id").as("eb"), col("lab0").as("lab_b")), Seq("eb"))
      .select(col("lab_a"), col("lab_b"))
      .filter(col("lab_a") =!= col("lab_b"))
      .distinct()
    val e = if (materialize) eLazy.cutLineage() else eLazy
    // every delta edge lies inside one component: labels unchanged
    if (materialize && e.isEmpty) return unchanged
    val meta = components(e, col("lab_a"), col("lab_b"))
      .select(col("id").as("m_id"), col("comp").as("m_comp"))
    base
      .join(meta, col("lab0") === col("m_id"), "left")
      .select(col("id"), coalesce(col("m_comp"), col("lab0")).as("comp"))
  }

  /** The AFFECTED SET of a re-ingest batch over a persisted labeling
    * ([[LedgerStore.upsertDocs]], [[SemLedgerStore.upsertVecs]]): every
    * label row (id, comp) of a component holding one of `hitIds`' ids
    * (column `id`, unique), with `_t` flagging the rows that ARE such
    * ids — the retiring targets; the other rows are the remaining
    * members. Eagerly cut: the target/member splits and
    * [[relabelAffected]] all read it. */
  def affectedComponents(labels: DataFrame, hitIds: DataFrame): DataFrame =
    labels.join(hitIds.withColumn("_hit", lit(true)), Seq("id"), "left")
      .select(col("id"), col("comp"), col("_hit").isNotNull.as("_t"))
      .withColumn("_c", max(col("_t")).over(Window.partitionBy(col("comp"))))
      .filter(col("_c")).drop("_c")
      .cutLineage()

  /** The labeling after a re-ingest batch, in ONE contraction: the
    * [[affectedComponents]] members re-enter UNLABELED beside the
    * batch's `newIds` (column `id`), and `edges` (a_id, b_id) — the
    * members' stored pairs ∪ the new ids' delta pairs — contract over
    * the untouched components' labels ([[componentsIncremental]]).
    *
    * Exactness: every vertex ends labeled by the minimum id of its
    * component in (untouched components ∪ edges). Relabeling the
    * members by `components(member pairs)` first and then contracting
    * the delta pairs over that labeling reaches the same labels — the
    * sub-component stars of the member pairs connect exactly what the
    * member pairs connect — whatever the pair sets are, so a capped
    * pair profile stays exact too. */
  def relabelAffected(labels: DataFrame, affected: DataFrame,
      newIds: DataFrame, edges: DataFrame): DataFrame = {
    // disjoint parts: a labeled new id is a target, not a member
    val untouched = labels.join(affected.select(col("id")), Seq("id"),
      "left_anti")
    val ids = untouched.select(col("id"))
      .unionByName(affected.filter(!col("_t")).select(col("id")))
      .unionByName(newIds)
    componentsIncremental(untouched, ids, col("id"), edges,
      col("a_id"), col("b_id"))
  }

  /** Embedding-cosine near-dups within a blocking key. Vectors cast to
    * double before any arithmetic (float32 upcast, then IEEE-stable). */
  def embeddingNearDups(
      embs: DataFrame, id: Column, vec: Column, block: Column,
      threshold: Double): DataFrame = {
    val e = embs.select(id.as("id"), block.as("blk"), vec.as("v"))
    val a = e.select(col("id").as("a_id"), col("blk"), col("v").as("a_v"))
    val b = e.select(col("id").as("b_id"), col("blk"), col("v").as("b_v"))
    a.join(b, Seq("blk"))
      .filter(col("a_id") < col("b_id"))
      .withColumn("cosine", graft.ann.Similarity.cosine(col("a_v"), col("b_v")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), col("cosine"))
  }

  /** SemDeDup-style embedding near-dups blocked by BANDED sign-LSH — the
    * label-free scale path for embeddingNearDups. Each vector gets
    * `nBands` (band, bucket) keys (Similarity.bandKeys: minhash-banding
    * over hyperplane sign bits — a single wide bucket has vanishing
    * recall at moderate similarity); candidate pairs are vectors sharing
    * ANY band bucket, deduplicated BEFORE the cosine verify so a pair
    * colliding in several bands is verified once.
    *
    * Shuffle shape: one on the (band, bucket) key (explode is nBands×,
    * map-side), one distinct on the pair ids, then the verify re-joins
    * vectors by id — never all-pairs, candidate volume bounded by bucket
    * selectivity (2^planesPerBand buckets per band). */
  def lshNearDups(
      embs: DataFrame, id: Column, vec: Column,
      nBands: Int, planesPerBand: Int, dim: Int,
      threshold: Double): DataFrame = {
    val e = embs.select(id.as("id"), vec.as("v"))
    val keyed = e.select(col("id"),
      explode(graft.ann.Similarity.bandKeys(col("v"), nBands, planesPerBand, dim))
        .as("bk"))
    val pairs = keyed.select(col("id").as("a_id"), col("bk"))
      .join(keyed.select(col("id").as("b_id"), col("bk")), Seq("bk"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .distinct()
    pairs
      .join(e.select(col("id").as("a_id"), col("v").as("a_v")), Seq("a_id"))
      .join(e.select(col("id").as("b_id"), col("v").as("b_v")), Seq("b_id"))
      .withColumn("cosine", graft.ann.Similarity.cosine(col("a_v"), col("b_v")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), col("cosine"))
  }

  /** DELTA pairs for the embedding (sign-LSH) ledger — the
    * [[minhashNearDupsDeltaFromSigs]] pattern on the embedding side:
    * every ≥ `threshold` pair that TOUCHES a new vector, generated
    * without any old×old candidate work. New-side band keys join
    * against the combined key table, so only buckets containing a new
    * vector produce join work; the hyperplanes are the SAME
    * deterministic [[graft.ann.Similarity.planes]] family as
    * [[lshNearDups]], so union with the EXISTING pair ledger
    * reproduces the full-corpus pair set exactly (the q130-class
    * maintenance invariant, gated by q244). New–new pairs arrive in
    * both orientations from the all×new join and collapse through the
    * canonical least/greatest normalization. */
  def lshNearDupsDelta(
      oldEmbs: DataFrame, newEmbs: DataFrame, id: Column, vec: Column,
      nBands: Int, planesPerBand: Int, dim: Int,
      threshold: Double): DataFrame = {
    val o = oldEmbs.select(id.as("id"), vec.as("v"))
    val n = newEmbs.select(id.as("id"), vec.as("v"))
    val all = o.unionByName(n)
    def keys(df: DataFrame): DataFrame = df.select(col("id"),
      explode(graft.ann.Similarity.bandKeys(col("v"), nBands, planesPerBand, dim))
        .as("bk"))
    val pairs = keys(all).select(col("id").as("x_id"), col("bk"))
      .join(keys(n).select(col("id").as("y_id"), col("bk")), Seq("bk"))
      .filter(col("x_id") =!= col("y_id"))
      .select(least(col("x_id"), col("y_id")).as("a_id"),
        greatest(col("x_id"), col("y_id")).as("b_id"))
      .distinct()
    pairs
      .join(all.select(col("id").as("a_id"), col("v").as("a_v")), Seq("a_id"))
      .join(all.select(col("id").as("b_id"), col("v").as("b_v")), Seq("b_id"))
      .withColumn("cosine", graft.ann.Similarity.cosine(col("a_v"), col("b_v")))
      .filter(col("cosine") >= threshold)
      .select(col("a_id"), col("b_id"), col("cosine"))
  }
}
