package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.util.Checkpoints.CutOps
import graft.util.Tables

/** Language-model-adjacent corpus operators: exact repeated-substring
  * SCRUBBING (the removal face of q87's span detection), BM25 retrieval
  * over the corpus, integer-exact n-gram LM affinity scoring, and real
  * BPE merge-rule TRAINING (the learning loop [[TextFunctions.bpeTokenCount]]
  * only applies).
  *
  * The reference stages raw text into a queryable warehouse
  * (reference README.md:3, glue_jobs/); a training-data warehouse needs
  * retrieval and tokenizer/LM preparation over that same corpus. All
  * column logic is codegen'd built-ins — zero UDFs — and every pipeline
  * shuffles on one key per stage (window string, term, doc id), never
  * on pairs, so each survives a 100 TB corpus unchanged.
  *
  * Determinism conventions (shared with q99/q147):
  *   - no libm calls: BM25's IDF is the log-free rational surrogate
  *     (N − df + ½)/(df + ½) — per-term a monotone transform of the
  *     Robertson idf, and floor(log₂ n) is computed EXACTLY as
  *     length(bin(n)) − 1, so every score either is an exact integer or
  *     is built from IEEE *,/,+ over exact integers in a FIXED
  *     evaluation order (sorted-list fold) — bit-reproducible across
  *     engines, runs, and cluster sizes.
  */
object LmQueries {

  /** q214 window width — q87's SpanN, shared so the scrub and the span
    * report describe the same duplication structure. */
  private[text] val ScrubN = CorpusQueries.SpanN

  /** q232's collocation support floor — shared with the generated
    * oracle SQL. */
  private val PmiMinCount = 5

  /** q236's train/eval cut: hash buckets < cut train, rest eval (the
    * q121 portable-hash split convention) — shared with the oracle. */
  private val BpeSplitCut = 80

  /** q215 query terms + BM25 shape constants (k1=1.2, b=0.75 are the
    * standard Robertson defaults; they appear inline as exact literal
    * fragments of the shared score expression below). */
  private[text] val Bm25Terms = Seq("fast", "merge", "table")
  private[text] val Bm25TopK = 10

  /** The q254 PERSISTED postings store, seeded with the 80% base slice
    * — the [[graft.text.TextQueries.ledgerStoreDir]] pattern for the
    * retrieval index (built once per session+corpus, Bench-warmed; the
    * q254 timed line measures the delta fold + the stored-postings
    * query, the steady-state cost of a maintained index). */
  private[graft] def postingsStoreDir(s: SparkSession, d: String): String =
    graft.util.Maintenance.getOrBuild("postingsStoreSeed", s, d) {
      val docs = Tables.documents(s, d)
      val cut = docs.agg(max(col("doc_id"))).head.getLong(0) * 9 / 10
      val dir = java.nio.file.Files.createTempDirectory("graftpostings").toString
      PostingsStore.maintainBatch(docs.filter(col("doc_id") < cut),
        col("doc_id"), col("text"), dir, batchId = 0L)
      dir
    }

  /** q273's OWN postings store (two folds, never compacted at build) —
    * isolated from [[postingsStoreDir]] because the q273 maintenance
    * CALLs include a VACUUM, which would retire the slice windows the
    * q261/q272 snapshot and change-feed reads depend on. */
  private[graft] def procStoreDir(s: SparkSession, d: String): String =
    graft.util.Maintenance.getOrBuild("procStoreSeed", s, d) {
      val docs = Tables.documents(s, d)
      val cut = docs.agg(max(col("doc_id"))).head.getLong(0) * 9 / 10
      val dir = java.nio.file.Files.createTempDirectory("graftproc").toString
      PostingsStore.maintainBatch(docs.filter(col("doc_id") < cut),
        col("doc_id"), col("text"), dir, batchId = 0L)
      PostingsStore.maintainBatch(docs.filter(!(col("doc_id") < cut)),
        col("doc_id"), col("text"), dir, batchId = 1L)
      dir
    }

  /** q276's postings store, seeded on the 90% corpus — its own memo
    * because the q276 UPSERT changes document contents (updates /
    * deletes), which the q254/q261/q272 snapshot reads must never
    * see. */
  private[graft] def upsertStoreDir(s: SparkSession, d: String): String =
    graft.util.Maintenance.getOrBuild("upsertStoreSeed", s, d) {
      val docs = Tables.documents(s, d)
      val cut = docs.agg(max(col("doc_id"))).head.getLong(0) * 9 / 10
      val dir = java.nio.file.Files.createTempDirectory("graftupsert").toString
      PostingsStore.maintainBatch(docs.filter(col("doc_id") < cut),
        col("doc_id"), col("text"), dir, batchId = 0L)
      dir
    }

  /** q217 merge-round count (production tokenizers run tens of
    * thousands of rounds over the same vocab-sized loop). */
  private[text] val BpeRounds = 6

  /** Separator between symbols inside a word's working string. Tokens
    * are whitespace-split words, so U+001F cannot occur in a symbol. */
  private[text] val SymSep = "\u001f"

  // ------------------------------------------------------------------
  // q214: exact repeated-substring scrub (Lee et al. 2022, ExactSubstr)
  // ------------------------------------------------------------------

  /** Remove duplicated passages, keeping the FIRST occurrence: a token
    * is scrubbed iff some length-`n` window covering it also occurs in
    * an EARLIER document (min doc id over the window's occurrences).
    * The corpus keeps exactly one copy of every repeated passage — the
    * semantics of Lee et al. 2022's ExactSubstr dedup, which whole-
    * document dedup (q40/q45) cannot express.
    *
    * Plan: positioned windows → window-keyed min(id) aggregate → join
    * back on the window key (reuses the aggregate's exchange) → explode
    * each scrubbable window into its ≤ n covered positions → distinct →
    * one anti join on (id, pos) against the token table → per-doc
    * ordered rebuild. Every stage keys on window, (id,pos) or id —
    * never pairs; the ×n position fan-out is a bounded constant.
    *
    * Output: (id, n_tokens, n_removed, scrubbed_text) for every input
    * document (fully-duplicated docs surface with scrubbed_text = '').
    */
  def substringScrub(docs: DataFrame, id: Column, text: Column,
      n: Int = ScrubN): DataFrame = {
    val base = docs.select(id.as("id"), text.as("text"))
    val toks = base.select(col("id"),
      posexplode(TextFunctions.tokens(col("text"))).as(Seq("pos", "tok")))
    val sh = Dedup.shingleRowsPos(base, col("id"), col("text"), n)
    val firsts = sh.groupBy(col("sh")).agg(min(col("id")).as("first_doc"))
    val covered = sh.join(firsts, Seq("sh"))
      .filter(col("id") > col("first_doc"))
      .select(col("id"),
        explode(sequence(col("pos"), col("pos") + lit(n - 1))).as("pos"))
      .distinct()
    val kept = toks.join(covered, Seq("id", "pos"), "left_anti")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_kept"),
        array_sort(collect_list(struct(col("pos"), col("tok")))).as("kv"))
      .select(col("id"), col("n_kept"),
        expr("array_join(transform(kv, x -> x.tok), ' ')").as("scrubbed_text"))
    toks.groupBy(col("id")).agg(count(lit(1)).as("n_tokens"))
      .join(kept, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("scrubbed_text"), lit("")).as("scrubbed_text"))
  }

  // ------------------------------------------------------------------
  // q215: BM25 retrieval
  // ------------------------------------------------------------------

  /** BM25 top-k for a bag-of-words query. Standard shape (k1=1.2,
    * b=0.75) with the log-free rational IDF (see object scaladoc) —
    * per-term: idf(df) · tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)).
    *
    * The per-document sum of per-term doubles is the one place IEEE
    * addition order could diverge between engines/runs, so terms are
    * folded in SORTED term order over a collected ≤|query|-element
    * array — `aggregate(ss, 0.0, +)` — making the score a pure function
    * of the data (0.0+x ≡ x for the positive scores here, so the fold
    * equals DuckDB's init-less list_reduce bit-for-bit).
    *
    * Plan: the term filter pushes into the scan; tf shuffles on
    * (doc, term), df re-uses tf grouped by term and broadcasts (≤|query|
    * rows), doc lengths shuffle on id, corpus totals are a 1-row
    * broadcast; final ranking is TakeOrderedAndProject — no global sort.
    */
  def bm25(docs: DataFrame, id: Column, text: Column,
      terms: Seq[String] = Bm25Terms, topK: Int = Bm25TopK): DataFrame = {
    val toks = docs.select(id.as("id"),
      explode(TextFunctions.tokens(text)).as("term"))
    val dl = toks.groupBy(col("id")).agg(count(lit(1)).as("dl"))
    val tot = dl.agg(sum(col("dl")).as("t_toks"), count(lit(1)).as("n_docs"))
    val tf = toks.filter(col("term").isin(terms: _*))
      .groupBy(col("id"), col("term")).agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nD = col("n_docs").cast("double"); val tD = col("t_toks").cast("double")
    val tfD = col("tf").cast("double"); val dfD = col("df").cast("double")
    val dlD = col("dl").cast("double")
    val idf = (lit(2.0) * nD - lit(2.0) * dfD + lit(1.0)) /
      (lit(2.0) * dfD + lit(1.0))
    val tfPart = (lit(2.2) * tfD) /
      (tfD + lit(1.2) * (lit(0.25) + lit(0.75) * (dlD * nD) / tD))
    tf.join(broadcast(df), Seq("term"))
      .join(dl, Seq("id"))
      .crossJoin(broadcast(tot))
      .select(col("id"), col("term"), (idf * tfPart).as("s"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_terms"),
        array_sort(collect_list(struct(col("term"), col("s")))).as("ss"))
      .select(col("id"), col("n_terms"),
        expr("aggregate(ss, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.s)")
          .as("score"))
      .orderBy(col("score").desc, col("id"))
      .limit(topK)
  }

  // ------------------------------------------------------------------
  // q226: more-like-this — TF-IDF cosine retrieval for an anchor doc
  // ------------------------------------------------------------------

  /** Top-k documents most similar to the ANCHOR doc (the corpus's
    * minimum id — a data-derived fixture, the q117 convention) by the
    * document-to-document face of retrieval (q215's BM25 is bag-of-
    * words-to-document; the embedding ANN family is dense): "more like
    * this" over the same inverted-posting machinery.
    *
    * Weights are the q99 log-free convention w(t,d) = tf · (N/df), each
    * a pure function of exact integers. Every float SUM (the shared-
    * term dot product and both norms) is the sorted-term fold —
    * `aggregate(array_sort(...), 0.0, +)` ≡ DuckDB's init-less ordered
    * LIST_REDUCE for positive addends — so scores are bit-reproducible.
    *
    * Plan: the anchor's weighted vector is ≤doc-length rows and
    * BROADCASTS into the posting join, so only documents sharing a term
    * with the anchor are ever scored (posting selectivity, never a
    * corpus scan per query); norms come from one doc-keyed fold over
    * the same tf table; the ranking is TakeOrderedAndProject. */
  def moreLikeThis(docs: DataFrame, id: Column, text: Column,
      topK: Int = 10): DataFrame = {
    val toks = docs.select(id.as("id"),
      explode(TextFunctions.tokens(text)).as("term"))
    val tf = toks.groupBy(col("id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.select(id.as("id")).distinct()
      .agg(count(lit(1)).as("n_docs"))
    val weighted = tf.join(df, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col("id"), col("term"),
        (col("tf").cast("double") *
          (col("n_docs").cast("double") / col("df").cast("double")))
          .as("w"))
    val norms = weighted
      .groupBy(col("id"))
      .agg(array_sort(collect_list(struct(col("term"), (col("w") * col("w"))
        .as("ww")))).as("ws"))
      .select(col("id"),
        sqrt(expr("aggregate(ws, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.ww)"))
          .as("norm"))
    val anchor = docs.select(id.as("aid")).agg(min(col("aid")).as("aid"))
      .join(weighted.select(col("id").as("aid"), col("term"),
        col("w").as("wa")), Seq("aid"))
    val shared = weighted
      .join(broadcast(anchor), Seq("term"))
      .filter(col("id") =!= col("aid"))
      .groupBy(col("id"), col("aid"))
      .agg(count(lit(1)).as("n_shared_terms"),
        array_sort(collect_list(struct(col("term"), (col("w") * col("wa"))
          .as("p")))).as("ps"))
      .select(col("id"), col("aid"), col("n_shared_terms"),
        expr("aggregate(ps, CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.p)")
          .as("num"))
    shared
      .join(norms, Seq("id"))
      .join(norms.select(col("id").as("aid"), col("norm").as("anorm")),
        Seq("aid"))
      .select(col("aid").as("anchor_id"), col("id"), col("n_shared_terms"),
        (col("num") / (col("norm") * col("anorm"))).as("cosine"))
      .orderBy(col("cosine").desc, col("id"))
      .limit(topK)
  }

  // ------------------------------------------------------------------
  // q216: integer-exact bigram LM affinity ("how predictable is this
  // document under the corpus's own bigram statistics")
  // ------------------------------------------------------------------

  /** Per-document LM affinity from corpus bigram counts, on an exact
    * integer log scale: each bigram occurrence contributes
    * floor(log₂ corpus_count(bigram)) = length(bin(count)) − 1 bits —
    * the magnitude of its corpus evidence. sum_bits/n_bigrams is the
    * (negated, shifted) per-token cross-entropy surrogate a perplexity
    * quality filter thresholds on: boilerplate scores high, rare/noisy
    * text scores low. Counts and bit-sums are exact integers; the one
    * IEEE division at the end is engine-reproducible.
    *
    * Plan: one multiplicity-preserving bigram explode feeds BOTH the
    * corpus count table (bigram-keyed, map-side combined) and the
    * per-doc occurrence list; the join back rides the bigram key, the
    * final rollup rides the doc id. Docs with <2 tokens score 0/null-
    * free via the left join. */
  def lmBits(docs: DataFrame, id: Column, text: Column): DataFrame = {
    val bg = Dedup.shingleRows(docs.select(id.as("id"), text.as("text")),
      col("id"), col("text"), 2)
    val counts = bg.groupBy(col("sh")).agg(count(lit(1)).as("c"))
    val bits = bg.join(counts, Seq("sh"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(length(bin(col("c"))) - lit(1)).cast("long").as("sum_bits"))
    docs.select(id.as("id")).join(bits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("sum_bits"), lit(0L)).as("sum_bits"),
        when(coalesce(col("n_bigrams"), lit(0L)) > 0L,
          col("sum_bits").cast("double") / col("n_bigrams").cast("double"))
          .otherwise(lit(0.0)).as("avg_bits"))
  }

  // ------------------------------------------------------------------
  // q217: BPE merge-rule training (Sennrich et al. 2016)
  // ------------------------------------------------------------------

  /** Learn the first `rounds` BPE merge rules from the corpus — the
    * training loop whose OUTPUT table [[graft.functions.BpeTokenCount]]
    * applies. Sennrich's key trick makes this scale-free: the corpus is
    * collapsed ONCE into a (word, count) vocabulary (one corpus-scale
    * map-side-combined groupBy); every merge round then runs over the
    * vocab-sized table only — at 100 TB the corpus pass is the same
    * token explode every other text operator pays, and the K-round loop
    * never touches the corpus again.
    *
    * Each word's working state is its symbol sequence joined by U+001F.
    * A round is: split → adjacent-pair explode → count-weighted pair
    * aggregate → 1-ROW argmax to the driver (bounded scalar, the q181
    * pattern; ties break (count desc, left, right) so training is
    * deterministic) → merge via literal `replace` of "l␟r" with "lr",
    * whose left-to-right non-overlapping semantics IS greedy BPE
    * merging ("a a a" + rule a+a → "aa a", never "a aa"). The vocab
    * lineage is cut per round ([[graft.util.Checkpoints]]) so the plan
    * stays O(1) across rounds.
    *
    * Output: (round, left_sym, right_sym, n) — the learned merge table
    * with each rule's support at the time it was chosen. */
  def bpeTrain(docs: DataFrame, id: Column, text: Column,
      rounds: Int = BpeRounds): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val wc = docs.select(explode(TextFunctions.tokens(text)).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    var words = wc.select(
        expr(s"array_join(transform(sequence(1, length(tok)), " +
          s"i -> substring(tok, i, 1)), '$SymSep')").as("w"),
        col("cnt"))
      .cutLineage()
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, Long)]()
    var k = 1
    var exhausted = false
    while (k <= rounds && !exhausted) {
      val top = words
        .select(col("cnt"), split(col("w"), SymSep).as("syms"))
        .filter(size(col("syms")) >= 2)
        .select(col("cnt"), explode(expr(
          """transform(sequence(1, size(syms) - 1),
            |  i -> struct(element_at(syms, i) AS l,
            |              element_at(syms, i + 1) AS r))""".stripMargin)).as("p"))
        .groupBy(col("p.l").as("l"), col("p.r").as("r"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true // vocab fully merged before K rounds
      else {
        val (l, r, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((k.toLong, l, r, n))
        // column-form replace: the learned symbols are data, never
        // spliced into SQL text (same left-to-right non-overlap greedy)
        words = words.select(
            replace(col("w"), lit(s"$l$SymSep$r"), lit(s"$l$r")).as("w"),
            col("cnt"))
          .cutLineage()
        k += 1
      }
    }
    merges.toSeq.toDF("round", "left_sym", "right_sym", "n")
      .orderBy(col("round"))
  }

  // ------------------------------------------------------------------
  // q221: BPE round trip — encode the corpus with the LEARNED merges
  // ------------------------------------------------------------------

  /** Apply [[bpeTrain]]'s learned rules back to the corpus and report
    * per-source tokenizer statistics — the round trip that closes the
    * tokenizer lifecycle (q37/q84 apply a FIXED merges table; this
    * applies the one just trained on this corpus, the production
    * train-then-retokenize flow).
    *
    * Sennrich's vocab trick again bounds the work: the corpus collapses
    * to per-source (word, count) rows, the DISTINCT-word table is
    * encoded ONCE (K sequential literal `replace` column ops — encoding
    * from char-split in rank order reproduces training's final state
    * exactly, because both are the same replace chain), and the join
    * back rides the word key. The merges themselves are K rows of
    * driver-side metadata (the q181 bounded-scalar pattern) — never
    * corpus data.
    *
    * Output per source: word/char/BPE-token totals, how many word
    * occurrences collapsed to a SINGLE unit (the in-vocabulary rate's
    * complement is the OOV pressure), and chars-per-token — the
    * compression ratio a tokenizer is graded on (one IEEE division of
    * exact integers). */
  def bpeEncodeStats(docs: DataFrame, text: Column, source: Column,
      rounds: Int = BpeRounds): DataFrame = {
    val learned = bpeTrain(docs, lit(0L), text, rounds)
      .orderBy(col("round")).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val wcSrc = docs.select(source.as("source"),
        explode(TextFunctions.tokens(text)).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("source"), col("tok")).agg(count(lit(1)).as("cnt"))
    val enc0 = wcSrc.select(col("tok")).distinct()
      .withColumn("w", expr(s"array_join(transform(sequence(1, " +
        s"length(tok)), i -> substring(tok, i, 1)), '$SymSep')"))
    val encoded = learned.foldLeft(enc0) { case (df, (l, r)) =>
      df.withColumn("w",
        replace(col("w"), lit(s"$l$SymSep$r"), lit(s"$l$r")))
    }
      .select(col("tok"),
        (length(col("w")) - length(replace(col("w"), lit(SymSep), lit("")))
          + 1).cast("long").as("n_units"))
    wcSrc.join(encoded, Seq("tok"))
      .groupBy(col("source"))
      .agg(sum(col("cnt")).as("n_words"),
        sum(length(col("tok")).cast("long") * col("cnt")).as("n_chars"),
        sum(col("n_units") * col("cnt")).as("n_bpe_tokens"),
        sum(when(col("n_units") === 1L, col("cnt")).otherwise(0L))
          .as("n_single_unit"))
      .select(col("source"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"), col("n_single_unit"),
        (col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"))
          .as("chars_per_token"))
      .orderBy(col("source"))
  }

  /** Tokenizer generalization audit (q236): train the BPE merges on the
    * TRAIN split ONLY, then encode BOTH splits with the learned rules
    * and compare — the held-out eval every tokenizer ships with. BPE
    * has no hard OOV (unseen words fall back to character units), so
    * the generalization signals are (a) chars-per-token on eval vs
    * train (compression transfer), (b) the single-unit rate (words the
    * vocab failed to merge at all), and (c) `n_unseen_words` — eval
    * tokens whose TYPE never occurs in the train split (the would-be
    * OOV set a closed-vocab tokenizer drops).
    *
    * Plan: training rides the Sennrich vocab collapse on the train
    * slice; encoding collapses both splits to DISTINCT words once and
    * replays the K-round replace chain (q221); the unseen flag is one
    * left join against the train vocabulary on the word key. */
  def bpeGeneralization(docs: DataFrame, text: Column, split: Column,
      rounds: Int = BpeRounds): DataFrame = {
    val learned = bpeTrain(docs.filter(split === "train"), lit(0L), text, rounds)
      .orderBy(col("round")).collect()
      .map(r => (r.getString(1), r.getString(2)))
    val wcs = docs.select(split.as("split"),
        explode(TextFunctions.tokens(text)).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("split"), col("tok")).agg(count(lit(1)).as("cnt"))
    val trainVocab = wcs.filter(col("split") === "train")
      .select(col("tok"), lit(true).as("in_train")).distinct()
    val enc0 = wcs.select(col("tok")).distinct()
      .withColumn("w", expr(s"array_join(transform(sequence(1, " +
        s"length(tok)), i -> substring(tok, i, 1)), '$SymSep')"))
    val encoded = learned.foldLeft(enc0) { case (df, (l, r)) =>
      df.withColumn("w",
        replace(col("w"), lit(s"$l$SymSep$r"), lit(s"$l$r")))
    }
      .select(col("tok"),
        (length(col("w")) - length(replace(col("w"), lit(SymSep), lit("")))
          + 1).cast("long").as("n_units"))
    wcs.join(encoded, Seq("tok"))
      .join(trainVocab, Seq("tok"), "left")
      .groupBy(col("split"))
      .agg(sum(col("cnt")).as("n_words"),
        sum(length(col("tok")).cast("long") * col("cnt")).as("n_chars"),
        sum(col("n_units") * col("cnt")).as("n_bpe_tokens"),
        sum(when(col("n_units") === 1L, col("cnt")).otherwise(0L))
          .as("n_single_unit"),
        sum(when(col("in_train").isNull, col("cnt")).otherwise(0L))
          .as("n_unseen_words"))
      .select(col("split"), col("n_words"), col("n_chars"),
        col("n_bpe_tokens"), col("n_single_unit"), col("n_unseen_words"),
        (col("n_chars").cast("double") / col("n_bpe_tokens").cast("double"))
          .as("chars_per_token"))
      .orderBy(col("split"))
  }

  // ------------------------------------------------------------------

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- exact repeated-substring scrub: the corpus after cutting every
    //    duplicated >= ScrubN-token passage down to its first occurrence.
    "q214_substring_scrub" -> { (s, d) =>
      substringScrub(Tables.documents(s, d), col("doc_id"), col("text"))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // -- vocabulary growth curve (Heaps' law audit): the corpus in
    //    ingestion order cut into 10 NTILE buckets; each bucket reports
    //    how many NEVER-SEEN-BEFORE word types it contributes and the
    //    cumulative vocabulary size — the curve that decides tokenizer
    //    vocab budgets and flags corpus drift (a late bucket suddenly
    //    minting new types = new domain or encoding rot). "First seen
    //    in bucket b" = MIN(bucket) per type — one type-keyed aggregate,
    //    never a sequential scan; the bucket assignment rides the
    //    two-pass distributed NTILE (Scale.withGlobalNtile, no
    //    single-task global window). The final cumulative sum is a
    //    window over EXACTLY 10 rows — bounded, not corpus-scale.
    "q231_vocab_growth" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val b = graft.warehouse.Scale.withGlobalNtile(
        Tables.documents(s, d).select(col("doc_id"), col("text")),
        Seq(col("doc_id")), 10, "bucket")
      val toks = b.select(col("bucket"),
        explode(TextFunctions.tokens(col("text"))).as("term"))
      val firsts = toks.groupBy(col("term"))
        .agg(min(col("bucket")).as("fb"))
      val newWords = firsts.groupBy(col("fb"))
        .agg(count(lit(1)).as("nw"))
      val nDocs = b.groupBy(col("bucket")).agg(count(lit(1)).as("n_docs"))
      val w = Window.orderBy(col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      nDocs.join(newWords, col("bucket") === col("fb"), "left")
        .select(col("bucket"), col("n_docs"),
          coalesce(col("nw"), lit(0L)).as("new_words"))
        .withColumn("vocab_size", sum(col("new_words")).over(w))
        .orderBy(col("bucket"))
    },

    // -- PMI collocation extraction: top adjacent word pairs by
    //    pointwise mutual information — the multi-word-expression miner
    //    (tokenizer merge candidates, stop-phrase lists, NER gazetteer
    //    seeds) beside q83's raw bigram counts. PMI = log of the ratio
    //    p(x,y)/(p(x)p(y)); log is monotone (the q99 convention), so the
    //    op ranks by the RATIO n_xy·N₁²/(N₂·n_x·n_y) — exact integer
    //    counts, ONE fixed IEEE expression tree, engine-bit-stable. The
    //    support floor (n_xy ≥ PmiMinCount) applies BEFORE the unigram
    //    joins, so only surviving pairs join; the pair aggregate rides
    //    the single bigram key, the unigram joins ride the term key, the
    //    two totals broadcast as one row each — no corpus-scale sort
    //    before the final top-20.
    "q232_pmi_collocations" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val bg = Dedup.shingleRows(docs, col("doc_id"), col("text"), 2)
      val ug = Dedup.shingleRows(docs, col("doc_id"), col("text"), 1)
      val uc = ug.groupBy(col("sh").as("w")).agg(count(lit(1)).as("c"))
      val totals = ug.agg(count(lit(1)).as("n1"))
        .crossJoin(bg.agg(count(lit(1)).as("n2")))
      val pc = bg.groupBy(col("sh")).agg(count(lit(1)).as("n_xy"))
        .filter(col("n_xy") >= PmiMinCount)
        .select(split(col("sh"), " ").getItem(0).as("x"),
          split(col("sh"), " ").getItem(1).as("y"), col("n_xy"))
      pc.join(uc.select(col("w").as("x"), col("c").as("n_x")), Seq("x"))
        .join(uc.select(col("w").as("y"), col("c").as("n_y")), Seq("y"))
        .crossJoin(broadcast(totals))
        .withColumn("pmi_ratio",
          (col("n_xy").cast("double") * col("n1").cast("double") *
            col("n1").cast("double")) /
          (col("n2").cast("double") * col("n_x").cast("double") *
            col("n_y").cast("double")))
        .select(col("x"), col("y"), col("n_xy"), col("n_x"), col("n_y"),
          col("pmi_ratio"))
        .orderBy(col("pmi_ratio").desc, col("x"), col("y"))
        .limit(20)
    },

    // -- tokenizer generalization: BPE trained on the hash-split TRAIN
    //    slice, compression + unseen-word rates measured on both splits.
    "q236_bpe_oov" -> { (s, d) =>
      val b = pmod(TextFunctions.portableHash48(col("doc_id").cast("string")),
        lit(100L))
      bpeGeneralization(Tables.documents(s, d), col("text"),
        when(b < BpeSplitCut, "train").otherwise("eval"))
    },

    // -- BM25 retrieval for a fixed bag-of-words query.
    "q215_bm25" -> { (s, d) =>
      bm25(Tables.documents(s, d), col("doc_id"), col("text"))
        .withColumnRenamed("id", "doc_id")
    },

    // -- q215 served FROM THE PERSISTED INVERTED INDEX (round 10 —
    //    the retrieval stack's q248): the store seeds on 80% of the
    //    corpus ([[postingsStoreDir]] memo), this query folds the 20%
    //    delta through the disk path (delta-only tokenization, slice
    //    append, corpus stats + ledger in one atomic commit; replay
    //    no-op on repeat), COMPACTS the slice window, and answers the
    //    q215 query from the stored postings — term filter pushed into
    //    the scan of the term-prefix-sorted files, N/avgdl from the
    //    manifest. Oracle = q215's full-corpus recompute: stored
    //    postings tokenize each doc once with the identical tokenizer
    //    and fold scores in the identical sorted-term order, so
    //    incremental-through-parquet ≡ full, bit-for-bit.
    "q254_bm25_store" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val cut = docs.agg(max(col("doc_id"))).head.getLong(0) * 9 / 10
      val dir = postingsStoreDir(s, d)
      PostingsStore.maintainBatch(
        docs.filter(!(col("doc_id") < cut)), col("doc_id"), col("text"),
        dir, batchId = 1L)
      PostingsStore.compact(s, dir)
      PostingsStore.bm25Query(s, dir, Bm25Terms, Bm25TopK)
        .withColumnRenamed("id", "doc_id")
    },

    // -- TIME-TRAVEL retrieval (round 11 — the store-history verb the
    //    merge table has had since round 6, now on the postings
    //    substrate): the q254 store folds the 20% delta and compacts,
    //    then this query answers BM25 AS OF the SEED commit (commit 0,
    //    the 90% corpus) through the archived manifest — stats and
    //    slice window exactly as committed then, even though the
    //    CURRENT pointer has since folded and compacted past it.
    //    Oracle = the full BM25 recompute restricted to the seed corpus
    //    (doc_id < cut): snapshot-read ≡ as-it-was recompute,
    //    bit-for-bit. Fail-closed retention (read-after-vacuum errors)
    //    is pinned by TimeTravelSpec.
    "q261_bm25_asof" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val cut = docs.agg(max(col("doc_id"))).head.getLong(0) * 9 / 10
      val dir = postingsStoreDir(s, d)
      // move the store past the seed (idempotent on replay: the batch
      // ledger skips the fold; a ≤1-slice window skips the compact)
      PostingsStore.maintainBatch(
        docs.filter(!(col("doc_id") < cut)), col("doc_id"), col("text"),
        dir, batchId = 1L)
      PostingsStore.compact(s, dir)
      PostingsStore.bm25QueryAt(s, dir, commit = 0L, Bm25Terms, Bm25TopK)
        .withColumnRenamed("id", "doc_id")
    },

    // -- the postings substrate consumed through the DataSource V2
    //    CATALOG FACE (round 12 — verdict #3): `format("graft")` hands
    //    any Spark SQL reader the manifest-committed snapshot as a
    //    stock parquet table, so per-term corpus statistics (document
    //    frequency + collection tf) come out of plain groupBy SQL over
    //    the stored postings — no library call in the read path. The
    //    term filter is paired with the writer's own tp prefix-hash so
    //    the scan pushes the prefix filter into the tp-sorted parquet
    //    files (the same I/O cut bm25Query gets; GraftTablesSpec pins
    //    the PushedFilters plan). No purge runs in this flow, so the
    //    tombstone anti-join (… NOT IN (SELECT id FROM purged)) is
    //    vacuous and omitted; its semantics are pinned by
    //    StoreHardeningSpec. Oracle = DuckDB tokenizing the corpus
    //    directly: the substrate's (term, id, tf) rows are exactly one
    //    tokenization of each doc (the batch ledger folds each doc
    //    once; slices partition the corpus), so SQL-over-the-store ≡
    //    SQL-over-the-text.
    "q268_dsv2_postings" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val cut = docs.agg(max(col("doc_id"))).head.getLong(0) * 9 / 10
      val dir = postingsStoreDir(s, d)
      PostingsStore.maintainBatch(
        docs.filter(!(col("doc_id") < cut)), col("doc_id"), col("text"),
        dir, batchId = 1L)
      PostingsStore.compact(s, dir)
      val m = PostingsStore.meta(s, dir).getOrElse(
        sys.error(s"no committed postings store at $dir"))
      // the writer's tp expression, applied to the query terms driver-
      // side (≤|terms| ints) — makes the term filter a parquet pushed
      // filter over the tp-sorted row groups instead of a full-postings
      // scan
      import s.implicits._
      val tps = Bm25Terms.toDF("term")
        .select(pmod(xxhash64(col("term")), lit(m.prefixes.toLong))
          .cast("int")).collect().map(_.getInt(0)).distinct.toSeq
      s.read.format("graft").option("path", dir)
        .option("table", "postings.postings").load()
        .filter(col("tp").isin(tps.map(Integer.valueOf): _*) &&
          col("term").isin(Bm25Terms: _*))
        .groupBy(col("term"))
        .agg(countDistinct(col("id")).as("df"),
          sum(col("tf")).as("coll_tf"))
        .orderBy(col("term"))
    },

    // -- round 12: the q268 statistics through a PLAIN SQL IDENTIFIER
    //    with SQL-standard time travel — the catalog face
    //    ([[graft.sources.GraftCatalog]]). The query text names the
    //    store the way the reference's Redshift clients name warehouse
    //    tables, and `VERSION AS OF 0` resolves the SEED snapshot
    //    through the shared history archive (the q261 as-of read, now
    //    SQL-spelled). The writer's tp prefix values ride in as
    //    literals, so the term filter still pushes into the scan of the
    //    term-prefix-sorted files. Oracle = DuckDB tokenizing the seed
    //    corpus directly (doc_id < cut — the snapshot-0 window).
    "q271_sql_catalog" -> { (s, d) =>
      val dir = postingsStoreDir(s, d)
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      val m = PostingsStore.metaAt(s, dir, 0L)
      import s.implicits._
      val tps = Bm25Terms.toDF("term")
        .select(pmod(xxhash64(col("term")), lit(m.prefixes.toLong))
          .cast("int")).collect().map(_.getInt(0)).distinct.toSeq
      s.sql(
        s"""SELECT term, count(DISTINCT id) AS df, sum(tf) AS coll_tf
           |FROM graft_cat.`$dir`.postings.postings VERSION AS OF 0
           |WHERE tp IN (${tps.mkString(", ")})
           |  AND term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
           |GROUP BY term ORDER BY term""".stripMargin)
    },

    // -- round 12: the CHANGE DATA FEED — the store's commits consumed
    //    as a delta read ([[graft.sources.ChangeFeedTable]], the
    //    CDC-OUT face of a CDC engine). The store seeds on the 90%
    //    corpus (commit 0), folds the 10% delta (commit 1), compacts
    //    (commit 2); `sinceCommit = 0` then emits EXACTLY the
    //    delta fold's doclen rows — the compact is a physical rewrite,
    //    not a change, and contributes nothing. Oracle = DuckDB
    //    tokenizing the delta corpus directly: feed-read ≡ what
    //    changed. The streaming face of the same resolution
    //    (micro-batch per commit window, checkpointed offsets) is
    //    pinned by ChangeFeedSpec.
    "q272_change_feed" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val cut = docs.agg(max(col("doc_id"))).head.getLong(0) * 9 / 10
      val dir = postingsStoreDir(s, d)
      PostingsStore.maintainBatch(
        docs.filter(!(col("doc_id") < cut)), col("doc_id"), col("text"),
        dir, batchId = 1L)
      PostingsStore.compact(s, dir)
      s.read.format("graft").option("path", dir)
        .option("table", "changes.postings.doclen")
        .option("sinceCommit", "0").load()
        .select(col("id").as("doc_id"), col("dl"))
        .orderBy(col("doc_id"))
    },

    // -- round 12: SQL-CALLED MAINTENANCE ([[graft.sources
    //    .GraftProcedures]]) — the operational verbs a warehouse DBA
    //    schedules, through Spark 4's procedure face: COMPACT merges
    //    the store's slice window, VACUUM physically retires the
    //    pre-window slices, COMMITS reports the snapshot history (3:
    //    two folds + the compact; reruns no-op — compact on a 1-slice
    //    window and vacuum with nothing below the base both return
    //    "nothing"). The gate then reads the substrate through the
    //    catalog identifier: maintenance through SQL preserved every
    //    row, bit-for-bit against the direct tokenization. Own store
    //    ([[procStoreDir]]) — the vacuum here must not retire windows
    //    q261/q272's snapshot reads depend on.
    "q273_sql_maintenance" -> { (s, d) =>
      val dir = procStoreDir(s, d)
      s.conf.set("spark.sql.catalog.graft_cat",
        classOf[graft.sources.GraftCatalog].getName)
      s.sql(s"CALL graft_cat.system.compact(store => '$dir')").collect()
      s.sql(s"CALL graft_cat.system.vacuum(store => '$dir')").collect()
      val nCommits = s.sql(
        s"CALL graft_cat.system.commits(store => '$dir')").count()
      s.sql(
        s"""SELECT id AS doc_id, dl, CAST($nCommits AS BIGINT) AS n_commits
           |FROM graft_cat.`$dir`.postings.doclen
           |ORDER BY doc_id""".stripMargin)
    },

    // -- round 12: UPDATE/DELETE maintenance on the inverted index —
    //    [[PostingsStore.upsertBatch]], ONE atomic ledgered commit
    //    that retires the live copies of incoming/removed ids (a
    //    slice-ordered tombstone — the v3 mask), lands the new copies
    //    above it, and adjusts N/Σdl by exactly −old +new. Every
    //    %10==0 seed doc is UPDATED (text doubled), every %17==0
    //    non-updated seed doc DELETED, the 10% delta ADDED — one
    //    verb, one commit (replay no-op on repeat, so the timed line
    //    measures upsert + masked read steady-state). Oracle = DuckDB
    //    doclen over the simulated post-upsert corpus: the masked
    //    store read ≡ the recompute, bit-for-bit. The cascade face —
    //    the merge table's change feed DRIVING this verb exactly-once
    //    (Cascade.postingsFollower) — is pinned by PostingsUpsertSpec.
    "q276_index_upsert" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      val cut = docs.agg(max(col("doc_id"))).head.getLong(0) * 9 / 10
      val dir = upsertStoreDir(s, d)
      val updated = docs
        .filter(col("doc_id") < cut && col("doc_id") % 10 === 0)
        .select(col("doc_id"),
          concat(col("text"), lit(" "), col("text")).as("text"))
      val added = docs.filter(!(col("doc_id") < cut))
        .select(col("doc_id"), col("text"))
      val removes = docs.filter(col("doc_id") < cut &&
          col("doc_id") % 17 === 0 && col("doc_id") % 10 =!= 0)
        .select(col("doc_id"))
      PostingsStore.upsertBatch(updated.unionByName(added),
        col("doc_id"), col("text"), removes, dir, batchId = 1L)
      PostingsStore.docLengths(s, dir)
        .select(col("id").as("doc_id"), col("dl"))
        .orderBy(col("doc_id"))
    },

    // -- integer-exact bigram LM affinity scoring.
    "q216_lm_bits" -> { (s, d) =>
      lmBits(Tables.documents(s, d), col("doc_id"), col("text"))
        .withColumnRenamed("id", "doc_id")
        .orderBy(col("doc_id"))
    },

    // -- BPE merge-rule training (first BpeRounds rules + support).
    "q217_bpe_train" -> { (s, d) =>
      bpeTrain(Tables.documents(s, d), col("doc_id"), col("text"))
    },

    // -- BPE round trip: the learned rules applied back to the corpus,
    //    per-source compression / single-unit statistics.
    "q221_bpe_encode" -> { (s, d) =>
      bpeEncodeStats(Tables.documents(s, d), col("text"), col("source"))
    },

    // -- more-like-this: TF-IDF cosine top-k for the min-id anchor doc.
    "q226_more_like_this" -> { (s, d) =>
      moreLikeThis(Tables.documents(s, d), col("doc_id"), col("text"))
        .withColumnRenamed("id", "doc_id")
    },

    // -- CCNet-style perplexity bucketing (Wenzek et al. 2020): each
    //    source's docs ranked by the q216 LM-affinity signal (higher =
    //    more predictable under the corpus's own bigram statistics) and
    //    cut into head/middle/tail TERCILES — the bucketing CCNet uses
    //    to keep head+middle and drop the tail. Ranking rides one
    //    per-source window (avg_bits DESC, doc_id ties — the double is
    //    a pure function of exact integers, so rank order is engine-
    //    stable); the tercile cut clears the division (rank·3 vs n).
    "q225_ppl_buckets" -> { (s, d) =>
      import org.apache.spark.sql.expressions.Window
      val docs = Tables.documents(s, d)
      val bits = lmBits(docs, col("doc_id"), col("text"))
        .withColumnRenamed("id", "doc_id")
      val scored = docs.select(col("doc_id"), col("source"))
        .join(bits, Seq("doc_id"))
      val w = Window.partitionBy(col("source"))
        .orderBy(col("avg_bits").desc, col("doc_id"))
      val wn = Window.partitionBy(col("source"))
      scored
        .withColumn("rnk", row_number().over(w).cast("long"))
        .withColumn("n", count(lit(1)).over(wn))
        .select(col("source"),
          when(col("rnk") * 3 <= col("n"), "head")
            .when(col("rnk") * 3 <= col("n") * 2, "middle")
            .otherwise("tail").as("bucket"),
          col("n_bigrams"), col("avg_bits"))
        .groupBy(col("source"), col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bigrams")).as("n_bigrams"),
          min(col("avg_bits")).as("min_bits"),
          max(col("avg_bits")).as("max_bits"))
        .orderBy(col("source"), col("bucket"))
    }
  )

  private val Tok = "STRING_SPLIT_REGEX(LOWER(TRIM(text)), '\\s+')"

  /** The BM25 scoring CTE chain (t/dl/tot/tf/df/sc/bm) over `documents
    * WHERE pred`, ending in `bm` (doc_id, n_terms, score — the top-K
    * rows in score order). ONE generator behind every oracle that
    * replays the scoring (q215/q254/q261 here, q262/q264 in TextQueries
    * — round-11 review: five hand-copies of the formula would silently
    * diverge). */
  private[text] def bm25OracleCtes(pred: String): String = {
    val termList = Bm25Terms.map(t => s"'$t'").mkString(", ")
    s"""t AS (
       |  SELECT doc_id, UNNEST($Tok) AS term FROM documents WHERE $pred),
       |dl AS (SELECT doc_id, COUNT(*) AS dl FROM t GROUP BY 1),
       |tot AS (SELECT SUM(dl) AS t_toks, COUNT(*) AS n_docs FROM dl),
       |tf AS (
       |  SELECT doc_id, term, COUNT(*) AS tf FROM t
       |  WHERE term IN ($termList) GROUP BY 1, 2),
       |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
       |sc AS (
       |  SELECT tf.doc_id, tf.term,
       |    ((2.0 * CAST(n_docs AS DOUBLE) - 2.0 * CAST(df AS DOUBLE) + 1.0)
       |      / (2.0 * CAST(df AS DOUBLE) + 1.0))
       |    * ((2.2 * CAST(tf AS DOUBLE))
       |      / (CAST(tf AS DOUBLE) + 1.2 * (0.25
       |        + 0.75 * (CAST(dl AS DOUBLE) * CAST(n_docs AS DOUBLE))
       |          / CAST(t_toks AS DOUBLE)))) AS s
       |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN tot),
       |bm AS (
       |  SELECT doc_id, COUNT(*) AS n_terms,
       |    LIST_REDUCE(LIST(s ORDER BY term), (x, y) -> x + y) AS score
       |  FROM sc GROUP BY doc_id
       |  ORDER BY score DESC, doc_id LIMIT $Bm25TopK)""".stripMargin
  }

  /** The q261/q264/q267 seed-corpus predicate, DuckDB form ((MAX*9)//10
    * floor-div ≡ the Scala truncating division on positive ids). */
  private[text] val SeedPredSql =
    "doc_id < (SELECT (MAX(doc_id) * 9) // 10 FROM documents)"

  def oracleSql: Map[String, String] = Map(
    // Training replayed from the TRAIN-slice relation through the
    // parameterized CTE generator, both splits re-encoded through the
    // learned g1..gK replace chain (the q221 pattern), unseen flag via
    // a train-vocabulary left join.
    "q236_bpe_oov" -> {
      val hashB =
        "(md5_number_lower(CAST(doc_id AS VARCHAR)) % 281474976710656) % 100"
      val trainRel =
        s"(SELECT text FROM documents WHERE $hashB < $BpeSplitCut) tr"
      val enc = (1 to BpeRounds).map { k =>
        s"""e$k AS (
           |  SELECT tok, REPLACE(w, g.l || CHR(31) || g.r, g.l || g.r) AS w
           |  FROM e${k - 1}, g$k g)""".stripMargin
      }.mkString(",\n")
      s"""WITH ${bpeTrainCtesFrom(trainRel)},
         |ts AS (
         |  SELECT CASE WHEN $hashB < $BpeSplitCut THEN 'train' ELSE 'eval' END
         |    AS split, UNNEST($Tok) AS tok
         |  FROM documents),
         |wcs AS (SELECT split, tok, COUNT(*) AS cnt FROM ts
         |  WHERE tok <> '' GROUP BY 1, 2),
         |tv AS (SELECT DISTINCT tok, TRUE AS in_train FROM wcs
         |  WHERE split = 'train'),
         |e0 AS (
         |  SELECT DISTINCT tok, ARRAY_TO_STRING(
         |    [SUBSTR(tok, i, 1) FOR i IN RANGE(1, LEN(tok) + 1)], CHR(31)) AS w
         |  FROM wcs),
         |$enc,
         |u AS (
         |  SELECT tok,
         |    CAST(LEN(w) - LEN(REPLACE(w, CHR(31), '')) + 1 AS BIGINT) AS n_units
         |  FROM e$BpeRounds)
         |SELECT split,
         |  CAST(SUM(cnt) AS BIGINT) AS n_words,
         |  CAST(SUM(LEN(tok) * cnt) AS BIGINT) AS n_chars,
         |  CAST(SUM(n_units * cnt) AS BIGINT) AS n_bpe_tokens,
         |  CAST(SUM(CASE WHEN n_units = 1 THEN cnt ELSE 0 END) AS BIGINT)
         |    AS n_single_unit,
         |  CAST(SUM(CASE WHEN in_train IS NULL THEN cnt ELSE 0 END) AS BIGINT)
         |    AS n_unseen_words,
         |  CAST(SUM(LEN(tok) * cnt) AS DOUBLE) / CAST(SUM(n_units * cnt) AS DOUBLE)
         |    AS chars_per_token
         |FROM wcs JOIN u USING (tok) LEFT JOIN tv USING (tok)
         |GROUP BY split ORDER BY split""".stripMargin
    },

    // Adjacent pairs from the same token arrays, same support floor,
    // same single-division IEEE tree (both engines left-associate the
    // double products), same (ratio DESC, x, y) tie order.
    "q232_pmi_collocations" ->
      s"""WITH t AS (
         |  SELECT doc_id, $Tok AS toks FROM documents),
         |bg AS (
         |  SELECT toks[i+1] AS x, toks[i+2] AS y
         |  FROM t, UNNEST(RANGE(0, GREATEST(LEN(toks) - 1, 0))) r(i)),
         |u AS (SELECT UNNEST(toks) AS w FROM t),
         |uc AS (SELECT w, COUNT(*) AS c FROM u GROUP BY 1),
         |n1 AS (SELECT COUNT(*) AS n1 FROM u),
         |n2 AS (SELECT COUNT(*) AS n2 FROM bg),
         |pc AS (
         |  SELECT x, y, COUNT(*) AS n_xy FROM bg
         |  GROUP BY 1, 2 HAVING COUNT(*) >= $PmiMinCount)
         |SELECT pc.x, pc.y, n_xy, ux.c AS n_x, uy.c AS n_y,
         |  (CAST(n_xy AS DOUBLE) * CAST(n1 AS DOUBLE) * CAST(n1 AS DOUBLE))
         |    / (CAST(n2 AS DOUBLE) * CAST(ux.c AS DOUBLE) * CAST(uy.c AS DOUBLE))
         |    AS pmi_ratio
         |FROM pc JOIN uc ux ON pc.x = ux.w JOIN uc uy ON pc.y = uy.w, n1, n2
         |ORDER BY pmi_ratio DESC, pc.x, pc.y LIMIT 20""".stripMargin,

    // NTILE over doc_id order (standard SQL semantics ≡ withGlobalNtile),
    // MIN(bucket) per type, LEFT JOIN + bounded 10-row cumulative window.
    "q231_vocab_growth" ->
      s"""WITH b AS (
         |  SELECT doc_id, NTILE(10) OVER (ORDER BY doc_id) AS bucket, text
         |  FROM documents),
         |tok AS (
         |  SELECT bucket, UNNEST($Tok) AS term FROM b),
         |f AS (SELECT term, MIN(bucket) AS fb FROM tok GROUP BY 1),
         |nw AS (SELECT fb AS bucket, COUNT(*) AS new_words FROM f GROUP BY 1),
         |nd AS (SELECT bucket, COUNT(*) AS n_docs FROM b GROUP BY 1)
         |SELECT nd.bucket, n_docs, COALESCE(new_words, 0) AS new_words,
         |  CAST(SUM(COALESCE(new_words, 0))
         |    OVER (ORDER BY nd.bucket ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |    AS vocab_size
         |FROM nd LEFT JOIN nw USING (bucket)
         |ORDER BY nd.bucket""".stripMargin,
    // Same closure as the Spark plan: windows -> first_doc -> covered
    // positions (RANGE fan-out, DISTINCT) -> anti join -> ordered
    // STRING_AGG rebuild; LEFT JOIN restores fully-scrubbed docs.
    "q214_substring_scrub" -> {
      val n = ScrubN
      s"""WITH t AS (
         |  SELECT doc_id, $Tok AS toks FROM documents),
         |tok AS (
         |  SELECT doc_id, i AS pos, toks[i+1] AS tok
         |  FROM t, UNNEST(RANGE(0, LEN(toks))) r(i)),
         |pos AS (
         |  SELECT doc_id, i, ARRAY_TO_STRING(toks[i+1:i+$n], ' ') AS sh
         |  FROM t, UNNEST(RANGE(0, GREATEST(LEN(toks) - ${n - 1}, 0))) r(i)),
         |firsts AS (SELECT sh, MIN(doc_id) AS first_doc FROM pos GROUP BY 1),
         |cov AS (
         |  SELECT DISTINCT p.doc_id, p.i + d AS pos
         |  FROM pos p JOIN firsts f USING (sh), UNNEST(RANGE(0, $n)) r(d)
         |  WHERE p.doc_id > f.first_doc),
         |kept AS (
         |  SELECT tok.doc_id, tok.pos, tok.tok
         |  FROM tok ANTI JOIN cov
         |    ON tok.doc_id = cov.doc_id AND tok.pos = cov.pos),
         |agg AS (
         |  SELECT doc_id, COUNT(*) AS n_kept,
         |    STRING_AGG(tok, ' ' ORDER BY pos) AS scrubbed
         |  FROM kept GROUP BY 1),
         |nt AS (SELECT doc_id, CAST(LEN(toks) AS BIGINT) AS n_tokens FROM t)
         |SELECT nt.doc_id, nt.n_tokens,
         |  nt.n_tokens - COALESCE(agg.n_kept, 0) AS n_removed,
         |  COALESCE(agg.scrubbed, '') AS scrubbed_text
         |FROM nt LEFT JOIN agg USING (doc_id)
         |ORDER BY doc_id""".stripMargin
    },

    // Identical IEEE expression tree (all operands cast to DOUBLE, same
    // literals, same associativity) and the identical fold order:
    // LIST(s ORDER BY term) + init-less list_reduce == Spark's
    // aggregate(sorted, 0.0, +) because 0.0 + x == x for x > 0.
    "q215_bm25" ->
      s"""WITH ${bm25OracleCtes("TRUE")}
         |SELECT doc_id, n_terms, score FROM bm
         |ORDER BY score DESC, doc_id""".stripMargin,

    // The store-served query must land on the identical full-corpus
    // recompute — same tokenizer, same stats, same fold order.
    "q254_bm25_store" ->
      s"""WITH ${bm25OracleCtes("TRUE")}
         |SELECT doc_id, n_terms, score FROM bm
         |ORDER BY score DESC, doc_id""".stripMargin,

    // The snapshot read must land on the recompute over the corpus AS
    // IT WAS at the seed commit — the q254 replay restricted to
    // doc_id < cut ((MAX*9)//10: DuckDB floor-div ≡ Scala truncating
    // division on the positive ids).
    "q261_bm25_asof" ->
      s"""WITH ${bm25OracleCtes(SeedPredSql)}
         |SELECT doc_id, n_terms, score FROM bm
         |ORDER BY score DESC, doc_id""".stripMargin,

    // SQL over the stored postings ≡ SQL over the text: each doc's
    // (term, tf) rows appear exactly once across the slice window, so
    // df = COUNT(DISTINCT doc) and coll_tf = SUM(tf) = occurrence count.
    "q268_dsv2_postings" ->
      s"""WITH t AS (SELECT doc_id, UNNEST($Tok) AS term FROM documents)
         |SELECT term, COUNT(DISTINCT doc_id) AS df,
         |  CAST(COUNT(*) AS BIGINT) AS coll_tf
         |FROM t WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
         |GROUP BY term ORDER BY term""".stripMargin,

    // The catalog identifier's VERSION AS OF 0 must land on the seed
    // corpus's own statistics — snapshot-read ≡ as-it-was recompute.
    "q271_sql_catalog" ->
      s"""WITH t AS (
         |  SELECT doc_id, UNNEST($Tok) AS term FROM documents
         |  WHERE $SeedPredSql)
         |SELECT term, COUNT(DISTINCT doc_id) AS df,
         |  CAST(COUNT(*) AS BIGINT) AS coll_tf
         |FROM t WHERE term IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
         |GROUP BY term ORDER BY term""".stripMargin,

    // The change feed since the seed commit must emit EXACTLY the delta
    // corpus's doclen rows — the fold is the change; the compact is not.
    "q272_change_feed" ->
      s"""WITH t AS (
         |  SELECT doc_id, UNNEST($Tok) AS term FROM documents
         |  WHERE NOT ($SeedPredSql))
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
         |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // SQL-called compact+vacuum must preserve the substrate exactly;
    // the history length (seed fold, delta fold, compact) is pinned.
    "q273_sql_maintenance" ->
      s"""WITH t AS (SELECT doc_id, UNNEST($Tok) AS term FROM documents)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl,
         |  CAST(3 AS BIGINT) AS n_commits
         |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // The masked store read after the upsert must equal the recompute
    // over the simulated post-upsert corpus (updated texts doubled,
    // removed docs absent, delta docs present).
    "q276_index_upsert" ->
      s"""WITH cutv AS (
         |  SELECT (MAX(doc_id) * 9) // 10 AS cut FROM documents),
         |corp AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id < cut AND doc_id % 10 = 0
         |         THEN text || ' ' || text ELSE text END AS text
         |  FROM documents CROSS JOIN cutv
         |  WHERE NOT (doc_id < cut AND doc_id % 17 = 0
         |    AND doc_id % 10 <> 0)),
         |t AS (SELECT doc_id, UNNEST($Tok) AS term FROM corp)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
         |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    // floor(log2 n) = LENGTH(BIN(n)) - 1 in both engines — exact.
    "q216_lm_bits" ->
      s"""WITH $lmBitsCtes
         |SELECT doc_id, n_bigrams, sum_bits, avg_bits
         |FROM bits ORDER BY doc_id""".stripMargin,

    // Identical weight expression tree, identical sorted-term folds for
    // dot product and both norms (init-less ordered LIST_REDUCE ≡
    // aggregate(sorted, 0.0, +) for the positive addends here).
    "q226_more_like_this" ->
      s"""WITH t AS (
         |  SELECT doc_id, UNNEST($Tok) AS term FROM documents),
         |tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM t GROUP BY 1, 2),
         |df AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
         |nd AS (SELECT COUNT(DISTINCT doc_id) AS n_docs FROM documents),
         |wt AS (
         |  SELECT tf.doc_id, tf.term,
         |    CAST(tf AS DOUBLE) * (CAST(n_docs AS DOUBLE) / CAST(df AS DOUBLE))
         |      AS w
         |  FROM tf JOIN df USING (term) CROSS JOIN nd),
         |nr AS (
         |  SELECT doc_id,
         |    SQRT(LIST_REDUCE(LIST(w * w ORDER BY term), (x, y) -> x + y))
         |      AS norm
         |  FROM wt GROUP BY doc_id),
         |a AS (SELECT MIN(doc_id) AS aid FROM documents),
         |aw AS (SELECT wt.term, wt.w AS wa FROM wt, a WHERE wt.doc_id = a.aid),
         |sh AS (
         |  SELECT wt.doc_id, COUNT(*) AS n_shared_terms,
         |    LIST_REDUCE(LIST(wt.w * aw.wa ORDER BY wt.term), (x, y) -> x + y)
         |      AS num
         |  FROM wt JOIN aw USING (term), a WHERE wt.doc_id <> a.aid
         |  GROUP BY 1)
         |SELECT a.aid AS anchor_id, sh.doc_id, sh.n_shared_terms,
         |  sh.num / (nr.norm * an.norm) AS cosine
         |FROM sh
         |CROSS JOIN a
         |JOIN nr ON nr.doc_id = sh.doc_id
         |JOIN nr AS an ON an.doc_id = a.aid
         |ORDER BY cosine DESC, sh.doc_id LIMIT 10""".stripMargin,

    // CCNet-style terciles over the q216 signal: per-source ranking by
    // avg_bits DESC (doc_id ties), cleared-division tercile cuts.
    "q225_ppl_buckets" ->
      s"""WITH $lmBitsCtes,
         |rk AS (
         |  SELECT d.source, b.avg_bits, b.n_bigrams,
         |    ROW_NUMBER() OVER (PARTITION BY d.source
         |      ORDER BY b.avg_bits DESC, d.doc_id) AS rnk,
         |    COUNT(*) OVER (PARTITION BY d.source) AS n
         |  FROM documents d JOIN bits b USING (doc_id))
         |SELECT source,
         |  CASE WHEN rnk * 3 <= n THEN 'head'
         |       WHEN rnk * 3 <= 2 * n THEN 'middle'
         |       ELSE 'tail' END AS bucket,
         |  COUNT(*) AS n_docs,
         |  CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams,
         |  MIN(avg_bits) AS min_bits, MAX(avg_bits) AS max_bits
         |FROM rk GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // The K-round loop unrolled to literal CTE steps (the q181
    // precedent): pair counts -> argmax (n DESC, l, r) -> REPLACE-based
    // greedy merge, whose left-to-right non-overlap semantics matches
    // Spark's replace exactly.
    "q217_bpe_train" -> {
      val out = (1 to BpeRounds).map { k =>
        s"SELECT CAST($k AS BIGINT) AS round, l AS left_sym, r AS right_sym, n FROM g$k"
      }.mkString("\nUNION ALL ")
      s"""WITH $bpeTrainCtes
         |$out
         |ORDER BY round""".stripMargin
    },

    // Training replayed via the shared CTE chain, then every DISTINCT
    // word re-encoded from its char split through the SAME g1..gK
    // replace chain (encoding in rank order reproduces training's final
    // state — both are the identical replace sequence), and the
    // per-source rollup rides the word key.
    "q221_bpe_encode" -> {
      val enc = (1 to BpeRounds).map { k =>
        s"""e$k AS (
           |  SELECT tok, REPLACE(w, g.l || CHR(31) || g.r, g.l || g.r) AS w
           |  FROM e${k - 1}, g$k g)""".stripMargin
      }.mkString(",\n")
      s"""WITH $bpeTrainCtes,
         |ts AS (SELECT source, UNNEST($Tok) AS tok FROM documents),
         |wcs AS (SELECT source, tok, COUNT(*) AS cnt FROM ts
         |  WHERE tok <> '' GROUP BY 1, 2),
         |e0 AS (
         |  SELECT DISTINCT tok, ARRAY_TO_STRING(
         |    [SUBSTR(tok, i, 1) FOR i IN RANGE(1, LEN(tok) + 1)], CHR(31)) AS w
         |  FROM wcs),
         |$enc,
         |u AS (
         |  SELECT tok,
         |    CAST(LEN(w) - LEN(REPLACE(w, CHR(31), '')) + 1 AS BIGINT) AS n_units
         |  FROM e$BpeRounds)
         |SELECT source,
         |  CAST(SUM(cnt) AS BIGINT) AS n_words,
         |  CAST(SUM(LEN(tok) * cnt) AS BIGINT) AS n_chars,
         |  CAST(SUM(n_units * cnt) AS BIGINT) AS n_bpe_tokens,
         |  CAST(SUM(CASE WHEN n_units = 1 THEN cnt ELSE 0 END) AS BIGINT)
         |    AS n_single_unit,
         |  CAST(SUM(LEN(tok) * cnt) AS DOUBLE) / CAST(SUM(n_units * cnt) AS DOUBLE)
         |    AS chars_per_token
         |FROM wcs JOIN u USING (tok)
         |GROUP BY source ORDER BY source""".stripMargin
    }
  )

  /** q216's per-document LM-affinity as a reusable CTE chain ending in
    * `bits`(doc_id, n_bigrams, sum_bits, avg_bits) — consumed by the
    * q216 oracle directly and by q225's bucketing on top, so signal and
    * buckets can never drift. */
  private def lmBitsCtes: String =
    s"""t AS (
       |  SELECT doc_id, $Tok AS toks FROM documents),
       |bg AS (
       |  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS sh
       |  FROM t, UNNEST(RANGE(1, GREATEST(LEN(toks), 1))) r(i)),
       |c AS (SELECT sh, COUNT(*) AS c FROM bg GROUP BY 1),
       |b AS (
       |  SELECT doc_id, COUNT(*) AS n_bigrams,
       |    CAST(SUM(LENGTH(BIN(c.c)) - 1) AS BIGINT) AS sum_bits
       |  FROM bg JOIN c USING (sh) GROUP BY 1),
       |bits AS (
       |  SELECT d.doc_id,
       |    COALESCE(b.n_bigrams, 0) AS n_bigrams,
       |    COALESCE(b.sum_bits, 0) AS sum_bits,
       |    CASE WHEN COALESCE(b.n_bigrams, 0) > 0
       |      THEN CAST(b.sum_bits AS DOUBLE) / CAST(b.n_bigrams AS DOUBLE)
       |      ELSE 0.0 END AS avg_bits
       |  FROM documents d LEFT JOIN b USING (doc_id))""".stripMargin

  /** The BPE training loop as a reusable CTE chain: t/wc/w0 plus K
    * rounds of p_k (pair counts) → g_k (argmax rule) → w_k (merged
    * vocab). q217 reads the g_k's; q221 appends an encode chain. */
  private def bpeTrainCtes: String = bpeTrainCtesFrom("documents")

  /** Parameterized over the training relation (a table name or aliased
    * subquery) so q236 can train on the TRAIN split only while q217/
    * q221 keep training on the full corpus. */
  private def bpeTrainCtesFrom(rel: String): String = {
    val steps = (1 to BpeRounds).map { k =>
      s"""p$k AS (
         |  SELECT syms[i] AS l, syms[i+1] AS r, CAST(SUM(cnt) AS BIGINT) AS n
         |  FROM (SELECT STRING_SPLIT(w, CHR(31)) AS syms, cnt FROM w${k - 1}),
         |    UNNEST(RANGE(1, GREATEST(LEN(syms), 1))) t(i)
         |  GROUP BY 1, 2),
         |g$k AS MATERIALIZED (
         |  SELECT l, r, n FROM p$k ORDER BY n DESC, l, r LIMIT 1),
         |w$k AS MATERIALIZED (
         |  SELECT REPLACE(w, g.l || CHR(31) || g.r, g.l || g.r) AS w, cnt
         |  FROM w${k - 1}, g$k g)""".stripMargin
    }.mkString(",\n")
    s"""t AS (
       |  SELECT UNNEST($Tok) AS tok FROM $rel),
       |wc AS (SELECT tok, COUNT(*) AS cnt FROM t WHERE tok <> '' GROUP BY 1),
       |w0 AS MATERIALIZED (
       |  SELECT ARRAY_TO_STRING(
       |    [SUBSTR(tok, i, 1) FOR i IN RANGE(1, LEN(tok) + 1)], CHR(31)) AS w,
       |    cnt
       |  FROM wc),
       |$steps""".stripMargin
  }
}
