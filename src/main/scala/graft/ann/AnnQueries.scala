package graft.ann

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.{Maintenance, Tables}
import graft.dedup.Dedup

/** Similarity-search operator surface over `embeddings`.
  *
  * q42 (brute-force top-k) and q47 (blocked cosine near-dup) are oracle
  * checked — DuckDB computes the same double-precision left-to-right
  * sums once the float32 lists are cast to DOUBLE[]. q43 (IVF) and q66
  * (sign-LSH) run all-probe configs, which are provably exhaustive and so
  * share the exact-top-k oracle; the pruned-probe scale configs are
  * recall-tested against brute force in AnnSpec.
  */
object AnnQueries {

  private def queryVec(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d).filter(col("vec_id") === 0)
      .select(col("embedding").as("q"))

  /** The q43 IVF index, built ONCE per (session, table) and eagerly
    * materialized — an IVF index exists to be built once and probed many
    * times, so repeated q43 invocations measure probe cost, not a
    * rebuild of centroids + assignment on every call (the `Tables.load`
    * memo pattern; graft.Bench warms this outside its timed window and
    * says so). The checkpoint pins both tables so a probe never re-runs
    * seeding or Lloyd; the registry holds one small centroid table plus
    * the assignment (id, vector, cell — same order of size as the input).
    * Round 8: memoized through [[graft.util.Maintenance]], the unified
    * warm/invalidate/inspect registry for all such state. */
  /** Session conf key: when set to a committed [[IndexStore]] dir, the
    * session's [[ivfIndex]] memo HYDRATES from the persisted store
    * instead of training — a warm session and a cold external reader
    * then share ONE refresh lineage, and the store's `baseRows` seeds
    * the doubling policy so in-session [[ivfIngest]]s count against the
    * persisted base. Opt-in and explicit: setting it declares "this
    * session's IVF index IS that store" (the caller owns the claim that
    * the store was built from this corpus). */
  val IvfStoreConf = "spark.graft.ivfIndex.store"

  def ivfIndex(s: SparkSession, d: String): Similarity.IvfIndex =
    Maintenance.getOrBuild("ivfIndex", s, d) {
      s.conf.getOption(IvfStoreConf) match {
        case Some(storeDir) =>
          val (idx, meta) = IndexStore.loadIvf(s, storeDir)
          Maintenance.noteBaseSize("ivfIndex", s, d, meta.baseRows)
          idx
        case None =>
          val embs = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
          val idx = Similarity.buildIvf(embs, col("vec_id"), col("embedding"),
            nCentroids = 8, iterations = 1, materialize = true)
          // refresh-policy denominator: the materialized assignment count
          // is the pass ivfIngest's doubling ratio is measured against
          Maintenance.noteBaseSize("ivfIndex", s, d, idx.assigned.count())
          idx
      }
    }

  /** Ingest new vectors into the MAINTAINED IVF index under the measured
    * refresh policy (DriftProbe in docs/PROBES.md / SURVEY §9.9:
    * frozen-quantizer recall plateaus ~0.10 below a rebuild from +100%
    * growth onward, so the default is "rebuild after the corpus
    * doubles"). Below the
    * threshold the grown index — one broadcast-argmin pass over the
    * delta, lineage cut — REPLACES the memo in place; at the threshold
    * the memo invalidates and the NEXT [[ivfIndex]] call re-trains from
    * the current corpus files. Returns (grown index, whether the policy
    * fired). Correctness is never at stake either way (probed cells
    * always contain what assignment stored — the q243 gate); the policy
    * trades one rebuild for the measured recall plateau. */
  def ivfIngest(s: SparkSession, d: String, newVecs: DataFrame)
      : (Similarity.IvfIndex, Boolean) =
    Maintenance.withWriteLock("ivfIndex", s, d) {
      val grown = Similarity.ivfInsert(ivfIndex(s, d), newVecs,
        col("vec_id"), col("embedding"), materialize = true)
      val refreshed = Maintenance.noteInserted("ivfIndex", s, d,
        newVecs.count())
      if (!refreshed) Maintenance.update("ivfIndex", s, d)(grown)
      else s.conf.getOption(IvfStoreConf).foreach { storeDir =>
        // store-hydrated mode (round-9 advice): invalidation alone would
        // REHYDRATE the same stale persisted generation and silently drop
        // every in-session ingest — so the policy fire PUBLISHES the
        // re-train back to the store first. The grown assignment holds
        // every vector (base + all ingests), so the rebuild needs no
        // external corpus (the ivfMaintainBatch re-train path); the next
        // ivfIndex() then hydrates the NEW generation, and external
        // readers advance with this session — one refresh lineage.
        val retrained = Similarity.buildIvf(
          grown.assigned.select(col("vid"), col("v")),
          col("vid"), col("v"),
          nCentroids = grown.centroids.count().toInt,
          iterations = 1, materialize = true)
        IndexStore.saveIvf(retrained, storeDir)
      }
      (grown, refreshed)
    }

  /** The q137 PQ index, memoized like [[ivfIndex]] (train once, probe
    * forever; Bench warms it through the Maintenance registry). */
  def pqIndex(s: SparkSession, d: String): Similarity.PqIndex =
    Maintenance.getOrBuild("pqIndex", s, d) {
      val embs = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      val idx = Similarity.buildPq(embs, col("vec_id"), col("embedding"),
        m = 16, ksub = 64, materialize = true)
      Maintenance.noteBaseSize("pqIndex", s, d, idx.codes.count())
      idx
    }

  /** [[ivfIngest]]'s twin for the PQ code index: encode against the
    * frozen codebooks, replace the memo below the doubling threshold,
    * invalidate at it (codebook drift costs quantization error on the
    * NEW vectors only — same recall-not-correctness trade). */
  def pqIngest(s: SparkSession, d: String, newVecs: DataFrame)
      : (Similarity.PqIndex, Boolean) =
    Maintenance.withWriteLock("pqIndex", s, d) {
      val grown = Similarity.pqInsert(pqIndex(s, d), newVecs,
        col("vec_id"), col("embedding"), materialize = true)
      val refreshed = Maintenance.noteInserted("pqIndex", s, d,
        newVecs.count())
      if (!refreshed) Maintenance.update("pqIndex", s, d)(grown)
      (grown, refreshed)
    }

  /** The q218 composite IVF-PQ index (the FAISS IVFPQ shape — coarse
    * cells + residual PQ codes), memoized like [[ivfIndex]]/[[pqIndex]]
    * through the Maintenance registry: train once, probe forever; Bench
    * warms it outside the timed window. */
  def ivfPqIndex(s: SparkSession, d: String): Similarity.IvfPqIndex =
    Maintenance.getOrBuild("ivfPqIndex", s, d) {
      val embs = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      val idx = Similarity.buildIvfPq(embs, col("vec_id"), col("embedding"),
        nCells = 8, m = 16, ksub = 64, materialize = true)
      Maintenance.noteBaseSize("ivfPqIndex", s, d, idx.codes.count())
      idx
    }

  /** [[ivfIngest]]'s composite-index face: coarse-assign + residual
    * PQ-encode against the frozen quantizers ([[Similarity.ivfPqInsert]]),
    * memo replaced below the doubling threshold, invalidated at it. */
  def ivfPqIngest(s: SparkSession, d: String, newVecs: DataFrame)
      : (Similarity.IvfPqIndex, Boolean) =
    Maintenance.withWriteLock("ivfPqIndex", s, d) {
      val grown = Similarity.ivfPqInsert(ivfPqIndex(s, d), newVecs,
        col("vec_id"), col("embedding"), materialize = true)
      val refreshed = Maintenance.noteInserted("ivfPqIndex", s, d,
        newVecs.count())
      if (!refreshed) Maintenance.update("ivfPqIndex", s, d)(grown)
      (grown, refreshed)
    }

  /** q247's 80% base composite index as MAINTAINED STATE (round-9
    * verdict #1: the timed q247 line was dominated by re-training this
    * base on every run — "the timed line measures the incremental fold,
    * not a disguised rebuild" is the repo's own q130/q239 standard).
    * The memo is the `incrementalBase`/`edgeBase` precedent applied to
    * the composite index: built once per (session, corpus), warmed by
    * Bench outside the timed window, so q247 measures what it claims —
    * `ivfPqInsert` of the 20% delta + the searches. Same quantizer
    * sizing as [[ivfPqIndex]] (m=16/ksub=64 — the recall flags need it). */
  def ivfPqBase(s: SparkSession, d: String): Similarity.IvfPqIndex =
    Maintenance.getOrBuild("ivfPqBase", s, d) {
      val embs = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      val idx = Similarity.buildIvfPq(
        embs.filter(col("vec_id") % 5 =!= 0),
        col("vec_id"), col("embedding"), nCells = 8, m = 16, ksub = 64,
        materialize = true)
      Maintenance.noteBaseSize("ivfPqBase", s, d, idx.codes.count())
      idx
    }

  /** The PERSISTED IVF-PQ store for this corpus — q249's substrate (the
    * `ledgerStoreDir` pattern on the ANN side): publish the full-corpus
    * composite index through [[IndexStore.saveIvfPq]] once per
    * (session, corpus), return the committed dir. The q249 gate then
    * searches the LOADED generation, so the oracle exercises the disk
    * path end to end — codes partitioned by cell, quantizer tables as
    * bounded metadata, the manifest-pointer commit. */
  private[graft] def ivfPqStoreDir(s: SparkSession, d: String): String =
    Maintenance.getOrBuild("ivfPqStoreSeed", s, d) {
      val dir = java.nio.file.Files.createTempDirectory("graftivfpq").toString
      IndexStore.saveIvfPq(ivfPqIndex(s, d), dir)
      dir
    }

  /** The PERSISTED semantic ledger seeded with the 80% base slice —
    * q252's substrate (the `ledgerStoreDir` pattern on the embedding
    * side; q244 gates the in-memory delta fold, q252 gates the fold
    * THROUGH PARQUET plus the compaction verb). */
  private[graft] def semStoreDir(s: SparkSession, d: String): String =
    Maintenance.getOrBuild("semStoreSeed", s, d) {
      val e = Tables.embeddings(s, d)
      val dir = java.nio.file.Files.createTempDirectory("graftsemledger").toString
      graft.dedup.SemLedgerStore.maintainBatch(
        e.filter(col("vec_id") % 5 =!= 0), col("vec_id"), col("embedding"),
        dir, batchId = 0L)
      dir
    }

  /** q277's EMBEDDING-REFRESH substrate: a full-corpus semantic ledger
    * of its own — the q277 upsert changes vector contents (re-embeds /
    * deletes), which the q252/q266 snapshot reads over
    * [[semStoreDir]] must never see. */
  private[graft] def semUpsertDir(s: SparkSession, d: String): String =
    Maintenance.getOrBuild("semUpsertSeed", s, d) {
      val e = Tables.embeddings(s, d)
      val dir = java.nio.file.Files.createTempDirectory("graftsemupsert").toString
      graft.dedup.SemLedgerStore.maintainBatch(
        e, col("vec_id"), col("embedding"), dir, batchId = 0L)
      dir
    }

  /** q279's VECTOR-REFRESH substrate: a full-corpus persisted IVF index
    * of its own — the q279 upsert changes vector contents (re-embeds /
    * deletes / adds), which the hydration-shared [[ivfIndex]] memo and
    * the other store gates must never see. Seeded via saveIvf (the
    * q43/q245 sizing: 8 cells, one Lloyd pass). */
  private[graft] def ivfUpsertDir(s: SparkSession, d: String): String =
    Maintenance.getOrBuild("ivfUpsertSeed", s, d) {
      val embs = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      val dir = java.nio.file.Files.createTempDirectory("graftivfupsert").toString
      IndexStore.saveIvf(Similarity.buildIvf(embs, col("vec_id"),
        col("embedding"), nCentroids = 8, iterations = 1,
        materialize = true), dir, batchId = 0L)
      dir
    }

  /** [[ivfUpsertDir]]'s composite twin — q280's substrate (own store:
    * the q249 gate reads [[ivfPqStoreDir]] and must keep seeing the
    * seed corpus). */
  private[graft] def ivfPqUpsertDir(s: SparkSession, d: String): String =
    Maintenance.getOrBuild("ivfPqUpsertSeed", s, d) {
      val embs = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      val dir = java.nio.file.Files.createTempDirectory("graftivfpqupsert").toString
      IndexStore.ivfPqMaintainBatch(embs, col("vec_id"), col("embedding"),
        dir, nCells = 8, m = 16, ksub = 64, batchId = 0L)
      dir
    }

  /** THE SIMULATED VECTOR REFRESH — the single source of truth for the
    * q279/q280/q281/q282/q285 engine side (round-13 review: four
    * hand-copied constructions of this delta would let one edited
    * modulus silently break the oracle agreement of the others;
    * [[postRefreshCorpusSelect]] is the SQL twin): every %10 vector
    * RE-EMBEDDED (negated), every %9 vector's twin ADDED under a fresh
    * +1e8 id (negated), every %17 non-updated vector DELETED —
    * `removes` keeps the embedding column so envelope builders can
    * type their after-image. */
  private[graft] def refreshDelta(e: org.apache.spark.sql.DataFrame)
      : (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
         org.apache.spark.sql.DataFrame) = {
    val neg = transform(col("embedding"), x => -x)
    (e.filter(col("vec_id") % 10 === 0 && col("vec_id") =!= 0)
       .select(col("vec_id"), neg.as("embedding")),
     e.filter(col("vec_id") % 9 === 0 && col("vec_id") =!= 0)
       .select((col("vec_id") + lit(100000000L)).as("vec_id"),
         neg.as("embedding")),
     e.filter(col("vec_id") % 17 === 0 && col("vec_id") % 10 =!= 0)
       .select(col("vec_id"), col("embedding")))
  }

  /** q281/q282's WAREHOUSE substrate: a merge table whose payload is
    * the embedding corpus. Commit 1 = the base corpus (every vector,
    * id ≠ 0) as INSERTs; commit 2 = THE REFRESH as warehouse CDC —
    * MODIFY every %10 (re-embedded: negated), INSERT every %9's twin
    * under a fresh id, REMOVE every %17 non-updated — the exact
    * q279/q280 simulated post-refresh corpus, so the cascade gates
    * share those oracles. Built through the REAL startMerge path
    * (envelope fold, change slices at commit time). */
  private[graft] def cascadeMergeDir(s: SparkSession, d: String): String =
    Maintenance.getOrBuild("cascadeMergeSeed", s, d) {
      val e = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      val base = java.nio.file.Files
        .createTempDirectory("graftcascade").toString
      val tableDir = s"$base/table"
      def envOf(df: org.apache.spark.sql.DataFrame, op: String, ver: Long) =
        df.select(lit(op).as("op"), col("vec_id").as("key"),
          lit(ver).as("ver"),
          (if (op == graft.cdc.Envelope.Remove) lit(null)
           else struct(col("vec_id"), col("embedding"))).as("after"))
      val (updated, added, removes) = refreshDelta(e)
      val seed = envOf(e, graft.cdc.Envelope.Insert, 1L)
      val refresh = envOf(updated, graft.cdc.Envelope.Modify, 2L)
        .unionByName(envOf(added, graft.cdc.Envelope.Insert, 2L))
        .unionByName(envOf(removes, graft.cdc.Envelope.Remove, 2L))
      val schema = seed.schema("after").dataType
        .asInstanceOf[org.apache.spark.sql.types.StructType]
      def mergeOnce(part: String,
          env: org.apache.spark.sql.DataFrame): Unit = {
        val in = s"$base/in_$part"
        env.write.parquet(in)
        val q = graft.cdc.Apply.startMerge(
          s.readStream.schema(env.schema).parquet(in), tableDir,
          checkpointDir = s"$base/ck_$part",
          keyCol = "vec_id", versionCol = "ver", schema = schema)
        q.processAllAvailable(); q.stop()
      }
      mergeOnce("seed", seed)       // commit 1
      mergeOnce("refresh", refresh) // commit 2
      base
    }

  /** q281's FOLLOWED semantic ledger: hydrated from the base corpus
    * (= the warehouse's commit-1 state), then maintained by
    * [[graft.util.Cascade.follow]] from `sinceCommit
    * = 1` — only the refresh commit flows (the hydrate-from-snapshot,
    * follow-from-its-commit production pattern). The re-embed hook is
    * the stored embedding column (the warehouse carries the vectors
    * here; a text warehouse would pass a model expression). */
  private[graft] def semCascadeDir(s: SparkSession, d: String): String =
    Maintenance.getOrBuild("semCascadeSeed", s, d) {
      val e = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      val base = java.nio.file.Files
        .createTempDirectory("graftsemcascade").toString
      val dir = s"$base/ledger"
      // the merge-table build and the ledger's seed fold are independent
      // (the seed folds the corpus, not the feed) — overlap them
      // (guide §2.6; round 17: 7 s + 8.6 s sequential at sf0.01)
      val mergeDir = graft.util.Par.all(Seq(
        () => s"${cascadeMergeDir(s, d)}/table",
        () => {
          graft.dedup.SemLedgerStore.maintainBatch(
            e, col("vec_id"), col("embedding"), dir)
          ""
        })).head
      val q = graft.util.Cascade.follow(s, mergeDir, s"$base/ck",
        graft.util.Cascade.semFollower("sem", dir, col("embedding")),
        sinceCommit = 1L)
      q.processAllAvailable(); q.stop()
      dir
    }

  /** q285's ATOMIC CASCADE SET: the semantic ledger AND the IVF index
    * hydrated from the warehouse's commit-1 state, then maintained
    * TOGETHER by [[graft.util.Cascade.followMergeTableAll]] — one
    * [[graft.util.PipelineLedger]] set commit per feed window pins
    * both stores' batch-exact snapshots, so a composed read is
    * consistent even against a crash mid-window. */
  private[graft] def cascadeSetDir(s: SparkSession, d: String): String =
    Maintenance.getOrBuild("cascadeSetSeed", s, d) {
      val mergeDir = s"${cascadeMergeDir(s, d)}/table"
      val e = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      val base = java.nio.file.Files
        .createTempDirectory("graftcascset").toString
      // the sem store CLONES q281's already-followed ledger (a store is
      // a directory) instead of re-folding the corpus — the set
      // cascade's own follower then REPLAYS the window against it (the
      // store ledger screens the fold, commitForBatch still pins), so
      // this substrate also exercises the partial-crash replay path
      // CascadeSpec pins, at a fraction of the Verify cost
      val hc = graft.util.Hfs.conf(s)
      // the sem clone and the IVF hydrate are independent — overlap
      // them (guide §2.6)
      graft.util.Par.all(Seq(
        () => graft.util.Hfs.copyDir(
          new org.apache.hadoop.fs.Path(semCascadeDir(s, d)),
          new org.apache.hadoop.fs.Path(s"$base/sem"), hc),
        () => IndexStore.saveIvf(Similarity.buildIvf(e, col("vec_id"),
          col("embedding"), nCentroids = 8, iterations = 1,
          materialize = true), s"$base/index")))
      val q = graft.util.Cascade.followMergeTableAll(s, mergeDir,
        s"$base/set", s"$base/ck", Seq(
          graft.util.Cascade.semFollower("sem", s"$base/sem",
            col("embedding")),
          graft.util.Cascade.ivfFollower("index", s"$base/index",
            col("embedding"))),
        sinceCommit = 1L)
      q.processAllAvailable(); q.stop()
      base
    }

  /** q287's DERIVED-FACET hooks — the six-store cascade follows ONE
    * embedding feed, so the text and basket facets DERIVE
    * deterministically from (vec_id, sign(embedding[0])). Documents in
    * the same (vec_id % 41, sign) class carry IDENTICAL token sets
    * (Jaccard 1 — the exact near-dup closure is the class partition,
    * SQL-recomputable without replaying the banded machinery); token
    * sets across classes are DISJOINT (Jaccard 0, every token carries
    * its class tag). A re-embed that flips the first coordinate's sign
    * MOVES the doc/basket to the twin class, so MODIFY envelopes
    * change text AND basket content — the re-ingest paths get real
    * retire+reland work — while staying recomputable from the
    * post-refresh corpus alone (the q279 oracle contract). Token count
    * varies with the class (4 + c%4) so the postings doclen face is
    * content-sensitive too. */
  private[graft] def cascadeSignOf: org.apache.spark.sql.Column =
    when(element_at(col("embedding"), 1) < lit(0.0f), lit(1L))
      .otherwise(lit(0L))

  private[graft] def cascadeTextOf: org.apache.spark.sql.Column = {
    val tag = concat(lit("d"), (col("vec_id") % 41).cast("string"),
      lit("s"), cascadeSignOf.cast("string"))
    concat(tag, lit("a "), tag, lit("b "), tag, lit("c"),
      repeat(concat(lit(" "), tag, lit("f")),
        ((col("vec_id") % 41) % 4 + 1).cast("int")))
  }

  /** Basket = three items in disjoint slot ranges (no cross-slot
    * collisions), each a (modulus, sign) congruence — pair weights are
    * then plain group counts in the oracle. */
  private[graft] def cascadeItemsOf: org.apache.spark.sql.Column =
    array((col("vec_id") % 101) * 2 + cascadeSignOf,
      lit(1000L) + (col("vec_id") % 89) * 2 + cascadeSignOf,
      lit(2000L) + (col("vec_id") % 71) * 2 + cascadeSignOf)

  /** q287's SIX-STORE ATOMIC CASCADE (round-14 verdict #1 — the set
    * now covers EVERY maintained substrate): semantic ledger + IVF
    * (cloned from the already-followed q281/q282 stores, so their
    * folds exercise the ledgered-replay path), IVF-PQ, text dedup
    * ledger, BM25 postings, and the co-purchase graph — all hydrated
    * from the warehouse's commit-1 state, then maintained TOGETHER by
    * [[graft.util.Cascade.followMergeTableAll]]: one feed window, six
    * one-commit store folds, ONE [[graft.util.PipelineLedger]] set
    * commit pinning all six batch-exact snapshots. */
  private[graft] def cascadeSetAllDir(s: SparkSession, d: String): String =
    Maintenance.getOrBuild("cascadeSetAllSeed", s, d) {
      val mergeDir = s"${cascadeMergeDir(s, d)}/table"
      val e = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      val base = java.nio.file.Files
        .createTempDirectory("graftcascall").toString
      val hc = graft.util.Hfs.conf(s)
      // the two store clones and the four seed folds are independent —
      // each lands in its own directory, so they run CONCURRENTLY
      // (guide §2.6; round 17, measured at sf0.01: 0.5 + 2.9 + 3.7 +
      // 1.5 + 1.4 s sequential, wall-dominated by per-job fixed cost).
      // Seeds fold UN-LEDGERED (default batchId=-1) so the stream's
      // bid-0 window is NOT mistaken for a replay of the seed.
      graft.util.Par.all(Seq(
        () => graft.util.Hfs.copyDir(
          new org.apache.hadoop.fs.Path(semCascadeDir(s, d)),
          new org.apache.hadoop.fs.Path(s"$base/sem"), hc),
        () => graft.util.Hfs.copyDir(
          new org.apache.hadoop.fs.Path(ivfCascadeDir(s, d)),
          new org.apache.hadoop.fs.Path(s"$base/index"), hc),
        () => IndexStore.ivfPqMaintainBatch(e, col("vec_id"),
          col("embedding"), s"$base/pq", nCells = 8, m = 16, ksub = 64),
        () => graft.dedup.LedgerStore.maintainBatch(
          e.select(col("vec_id").as("doc_id"), cascadeTextOf.as("text")),
          col("doc_id"), col("text"), s"$base/ledger"),
        () => graft.text.PostingsStore.maintainBatch(
          e.select(col("vec_id").as("id"), cascadeTextOf.as("text")),
          col("id"), col("text"), s"$base/postings"),
        () => graft.warehouse.GraphStore.maintainBatch(
          e.select(col("vec_id").as("ord"),
            explode(cascadeItemsOf).as("item")),
          col("ord"), col("item"), s"$base/graph")))
      val q = graft.util.Cascade.followMergeTableAll(s, mergeDir,
        s"$base/set", s"$base/ck", Seq(
          graft.util.Cascade.semFollower("sem", s"$base/sem",
            col("embedding")),
          graft.util.Cascade.ivfFollower("index", s"$base/index",
            col("embedding")),
          graft.util.Cascade.ivfPqFollower("pq", s"$base/pq",
            col("embedding")),
          graft.util.Cascade.ledgerFollower("ledger", s"$base/ledger",
            cascadeTextOf),
          graft.util.Cascade.postingsFollower("postings",
            s"$base/postings", cascadeTextOf),
          graft.util.Cascade.graphFollower("graph", s"$base/graph",
            cascadeItemsOf)),
        sinceCommit = 1L)
      q.processAllAvailable(); q.stop()
      base
    }

  /** q282's FOLLOWED IVF index — [[semCascadeDir]]'s search-side twin,
    * built on [[IndexStore.upsertVectors]]'s one-commit atomicity. */
  private[graft] def ivfCascadeDir(s: SparkSession, d: String): String =
    Maintenance.getOrBuild("ivfCascadeSeed", s, d) {
      val mergeDir = s"${cascadeMergeDir(s, d)}/table"
      val e = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      val base = java.nio.file.Files
        .createTempDirectory("graftivfcascade").toString
      val dir = s"$base/index"
      IndexStore.saveIvf(Similarity.buildIvf(e, col("vec_id"),
        col("embedding"), nCentroids = 8, iterations = 1,
        materialize = true), dir)
      val q = graft.util.Cascade.follow(s, mergeDir, s"$base/ck",
        graft.util.Cascade.ivfFollower("index", dir, col("embedding")),
        sinceCommit = 1L)
      q.processAllAvailable(); q.stop()
      dir
    }

  /** q263's decontamination substrate: a [[graft.dedup.SemLedgerStore]]
    * holding the TRAIN-side vectors (vec_id % 10 ≠ 0 — the eval slice
    * stays out by construction), seeded with the sub-cut base as batch
    * 0; q263 folds the remaining train vectors through the disk path
    * and probes the stored vectors with the eval set. Its own store —
    * q252's semStoreDir folds a different split and a purge there would
    * cross-contaminate the gates. Bench warms it outside the timed
    * window. */
  private[graft] def semDecontamDir(s: SparkSession, d: String): String =
    Maintenance.getOrBuild("semDecontamSeed", s, d) {
      val e = Tables.embeddings(s, d)
      val cut = e.agg(max(col("vec_id"))).head.getLong(0) * 4 / 5
      val dir = java.nio.file.Files.createTempDirectory("graftsemdecon").toString
      graft.dedup.SemLedgerStore.maintainBatch(
        e.filter(col("vec_id") % 10 =!= 0 && col("vec_id") < cut),
        col("vec_id"), col("embedding"), dir, batchId = 0L)
      dir
    }

  /** q212's semantic dedup ledger, memoized per (session, table) like
    * [[ivfIndex]] and `TextQueries.dedupLedger` (the pairs+components
    * build is table maintenance refreshed with the corpus; Bench warms
    * it outside the timed window and says so — the q212 timed line
    * measures the ledger PROBE, the operator's steady-state cost). */
  def semanticLedger(s: SparkSession, d: String): DataFrame =
    Maintenance.getOrBuild("semanticLedger", s, d) {
      val e = Tables.embeddings(s, d)
      val pairs = Dedup.lshNearDups(e, col("vec_id"), col("embedding"),
        nBands = 4, planesPerBand = 4, dim = 64, threshold = 0.25)
      val lbl = Dedup.components(pairs, col("a_id"), col("b_id"))
      val full = e.select(col("vec_id"))
        .join(lbl.select(col("id").as("vec_id"), col("comp")), Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("comp"), col("vec_id")).as("comp"))
      // comp-keyed join reuses the groupBy's exchange; sizes is NOT
      // broadcast-declared (a component can be arbitrarily large at
      // 100 TB — the q111 comment's reasoning)
      val sizes = full.groupBy(col("comp")).agg(count(lit(1)).as("comp_size"))
      val ledger = full.join(sizes, Seq("comp"))
        .select(col("vec_id"), col("comp"), col("comp_size"),
          (col("vec_id") === col("comp")).as("is_canonical"))
        .persist()
      ledger.count() // materialize at maintenance time
      ledger
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // -- exact ANN baseline: cosine top-10 for the vec_id=0 query.
    "q42_ann_bruteforce" -> { (s, d) =>
      Similarity.bruteForceTopK(
        Tables.embeddings(s, d).filter(col("vec_id") =!= 0),
        col("vec_id"), col("embedding"),
        queryVec(s, d), k = 10)
    },

    // -- IVF path through the oracle gate: probing ALL cells makes the
    //    search provably ≡ brute force (every vector lives in exactly one
    //    cell), so the exact top-k SQL verifies the whole index machinery
    //    — build, assignment, probe — end to end. The pruned-probe scale
    //    config (nprobe=2 of 8) is recall-tested in AnnSpec.
    "q43_ann_ivf" -> { (s, d) =>
      Similarity.ivfSearch(ivfIndex(s, d), queryVec(s, d), k = 10, nprobe = 8)
    },

    // -- Sign-LSH path through the oracle gate: probeHamming = nPlanes
    //    scans every bucket, so the result ≡ brute force and the exact
    //    top-k SQL verifies bucketing + probing end to end. The pruned
    //    config (Hamming ≤ 1) is containment/recall-tested in AnnSpec.
    "q66_ann_lsh" -> { (s, d) =>
      Similarity.lshSearch(
        Tables.embeddings(s, d).filter(col("vec_id") =!= 0),
        col("vec_id"), col("embedding"),
        queryVec(s, d), k = 10, probeHamming = 8)
    },

    // -- incremental IVF ingestion through the oracle gate: build on
    //    80% of the corpus, INSERT the remaining 20% against the frozen
    //    centroids (Similarity.ivfInsert — the FAISS `add` write path),
    //    then probe ALL cells: provably exhaustive over base + delta,
    //    so the exact top-k oracle verifies the insertion reached every
    //    vector. AnnSpec covers the pruned-probe behavior (an inserted
    //    vector is immediately retrievable from its own cell).
    "q243_ann_ivf_incremental" -> { (s, d) =>
      val embs = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      val idx = Similarity.buildIvf(
        embs.filter(col("vec_id") % 5 =!= 0),
        col("vec_id"), col("embedding"), nCentroids = 8, iterations = 1)
      val grown = Similarity.ivfInsert(idx,
        embs.filter(col("vec_id") % 5 === 0), col("vec_id"), col("embedding"))
      Similarity.ivfSearch(grown, queryVec(s, d), k = 10, nprobe = 8)
    },

    // -- MMR diversified reranking over the exact top-30: each of the
    //    10 picks maximizes λ·rel − (1−λ)·max-sim-to-picked — the
    //    near-dup-suppressing result diversification a retrieval
    //    pipeline runs after the raw top-N. Stage 1 is the only
    //    corpus-scale work (TakeOrdered, no shuffle); the greedy loop
    //    is k 1-row argmaxes over the bounded candidate set (the q181
    //    pattern). The oracle unrolls the identical 10 rounds.
    "q230_mmr_rerank" -> { (s, d) =>
      Similarity.mmrRerank(
        Tables.embeddings(s, d).filter(col("vec_id") =!= 0),
        col("vec_id"), col("embedding"),
        queryVec(s, d), k = MmrK, nCandidates = MmrN, lambda = MmrLambda)
    },

    // -- embedding-cosine near-dup pairs, blocked by label (bounded
    //    subset; at scale the block key comes from LSH buckets).
    "q47_embedding_neardup" -> { (s, d) =>
      Dedup.embeddingNearDups(
          Tables.embeddings(s, d).filter(col("vec_id") < 300),
          col("vec_id"), col("embedding"), col("label"), threshold = 0.25)
        .orderBy(col("a_id"), col("b_id"))
    },

    // -- scalar (int8-style) quantized search: rank by the INTEGER
    //    squared L2 distance of 0..254 codes from corpus-wide
    //    per-dimension ranges (squared L2 is translation-invariant under
    //    the quantization offset, unlike the dot product — see
    //    Similarity.quantizedTopK) — 4× smaller vectors, exact-integer
    //    ranking, zero float divergence after the (deterministic,
    //    op-order-pinned) quantization step.
    //    The timed query includes the dim-bounded range aggregation; at
    //    scale the ranges persist with the table like any index.
    "q100_ann_quantized" -> { (s, d) =>
      val corpus = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      val (mins, maxs) = Similarity.quantRanges(corpus, col("embedding"))
      val qv = Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      Similarity.quantizedTopK(corpus, col("vec_id"), col("embedding"),
        qv, mins, maxs, k = 10)
    },

    // -- product-quantization ADC search (the third quantization face
    //    next to IVF cells and scalar codes): 16 sub-spaces × 64
    //    centroids ≈ 16 bytes per stored vector, query scored by m table
    //    lookups — no full vector read at search time. PQ is lossy with
    //    no exhaustive-equivalence config, so the gate is the q49
    //    invariant pattern: the EXACT L2 top-1 id is recomputed by the
    //    oracle (VecDot/LIST_DOT_PRODUCT parity, identical op order),
    //    and the PQ-quality claims ride as pinned booleans — exact top-1
    //    retrieved in the ADC top-10, and ADC recall@10 >= 5/10 against
    //    exact L2 (both deterministic: RNG-free training, tie-broken
    //    ranks). AnnSpec additionally pins the ksub >= corpus degenerate
    //    config, where ADC ≡ exact L2 identically.
    "q137_ann_pq" -> { (s, d) =>
      val corpus = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      val qv = Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      val qlit = typedlit(qv)
      val exact = corpus.select(col("vec_id"),
          (Similarity.dot(col("embedding"), col("embedding"))
            - lit(2) * Similarity.dot(col("embedding"), qlit)
            + Similarity.dot(qlit, qlit)).as("d2"))
        .orderBy(col("d2").asc, col("vec_id"))
        .limit(10)
      // bounded driver-side fetches: two 10-row top-k results
      val exactIds = exact.collect().map(_.getLong(0)).toSeq
      val pqIds = Similarity.pqSearchAdc(pqIndex(s, d), qv, k = 10)
        .collect().map(_.getLong(0)).toSeq
      val recall = pqIds.count(exactIds.toSet)
      val s2 = s
      import s2.implicits._
      Seq((exactIds.head, pqIds.contains(exactIds.head), recall >= 5))
        .toDF("exact_l2_top1", "pq_hit_top10", "recall_ok")
    },

    // -- composite IVF-PQ (the production FAISS IVFPQ shape): coarse
    //    cells prune the scan, residual PQ codes compress what remains.
    //    Gate flags, all deterministic (RNG-free training, tie-broken
    //    ranks; the q137/q49 invariant pattern): the exact-L2 top-1 must
    //    surface in the PRUNED nprobe=2 ADC top-10 (the cell ranking
    //    finds the right cells), all-probe recall@10 >= 5 (residual
    //    quantization quality), and the pruned probe must scan < 60% of
    //    the corpus (the pruning actually prunes — with 8 balanced-ish
    //    cells, 2 probed cells hold ~25%). AnnSpec pins the degenerate
    //    all-sampled/all-probed config where IVF-PQ ADC == exact L2.
    "q218_ann_ivfpq" -> { (s, d) =>
      val corpus = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      val qv = Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      val qlit = typedlit(qv)
      val exact = corpus.select(col("vec_id"),
          (Similarity.dot(col("embedding"), col("embedding"))
            - lit(2) * Similarity.dot(col("embedding"), qlit)
            + Similarity.dot(qlit, qlit)).as("d2"))
        .orderBy(col("d2").asc, col("vec_id"))
        .limit(10)
      val exactIds = exact.collect().map(_.getLong(0)).toSeq
      val idx = ivfPqIndex(s, d)
      val pruned = Similarity.ivfPqSearchAdc(idx, qv, k = 10, nprobe = 2)
        .collect().map(_.getLong(0)).toSeq
      val allProbe = Similarity.ivfPqSearchAdc(idx, qv, k = 10, nprobe = 8)
        .collect().map(_.getLong(0)).toSeq
      val recall = allProbe.count(exactIds.toSet)
      // bounded metadata scalars: per-cell code counts (nCells rows) vs
      // the corpus count — the pruning-statistics fetch, never row data
      val cellSizes = idx.codes.groupBy(col("cell")).count().collect()
        .map(r => r.getAs[Number](0).intValue() -> r.getLong(1)).toMap
      val nCorpus = cellSizes.values.sum
      val prunedScan = Similarity
        .probeCellsFor(idx, qv, nprobe = 2).map(c => cellSizes.getOrElse(c, 0L)).sum
      val s2 = s
      import s2.implicits._
      Seq((exactIds.head, pruned.contains(exactIds.head), recall >= 5,
          prunedScan * 5 < nCorpus * 3))
        .toDF("exact_l2_top1", "pruned_hit_top10", "recall_ok",
          "pruned_scan_ok")
    },

    // -- incremental IVF-PQ ingestion through the oracle gate (q243's
    //    pattern on the composite index): build on 80% of the corpus,
    //    INSERT the remaining 20% against the FROZEN coarse cells and
    //    codebooks (Similarity.ivfPqInsert — FAISS IndexIVFPQ.add),
    //    then check the grown index end to end. n_codes is exact-gated
    //    against the corpus count (insertion reached every vector —
    //    the q243 exhaustiveness argument, here as an integer the
    //    oracle recomputes); exact_l2_top1 is oracle-recomputed; the
    //    all-probe recall and code-dimension flags are the q218
    //    invariant pattern.
    "q247_ann_ivfpq_incremental" -> { (s, d) =>
      val embs = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      val qv = Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      val qlit = typedlit(qv)
      // the 80% base rides the [[ivfPqBase]] maintenance memo (round-9
      // verdict #1): built once, Bench-warmed, so the timed line below
      // is the operator's actual claim — frozen-quantizer insert of the
      // 20% delta + the searches, NO training stage (AnnSpec pins the
      // memo identity across calls)
      val idx = ivfPqBase(s, d)
      val grown = Similarity.ivfPqInsert(idx,
        embs.filter(col("vec_id") % 5 === 0), col("vec_id"), col("embedding"),
        materialize = true)
      val exactIds = embs.select(col("vec_id"),
          (Similarity.dot(col("embedding"), col("embedding"))
            - lit(2) * Similarity.dot(col("embedding"), qlit)
            + Similarity.dot(qlit, qlit)).as("d2"))
        .orderBy(col("d2").asc, col("vec_id"))
        .limit(10)
        .collect().map(_.getLong(0)).toSeq
      val allProbe = Similarity.ivfPqSearchAdc(grown, qv, k = 10, nprobe = 8)
        .collect().map(_.getLong(0)).toSeq
      val nCodes = grown.codes.count()
      val s2 = s
      import s2.implicits._
      // recall bound is DRIFT-ADJUSTED vs q218's >= 5: the 20% delta is
      // encoded with codebooks trained before it existed, the measured
      // frozen-quantizer cost (DriftProbe / SURVEY §9.9). Measured
      // recall@10: 5+ at sf0.01, 3 at sf0.1 — the bound is >= 3.
      Seq((exactIds.head, nCodes, allProbe.contains(exactIds.head),
          allProbe.count(exactIds.toSet) >= 3))
        .toDF("exact_l2_top1", "n_codes", "allprobe_hit_top10", "recall_ok")
    },

    // -- the q218 gate THROUGH THE PERSISTED STORE (the q248 pattern on
    //    the ANN side, round-9 verdict #6): the full-corpus composite
    //    index is published to an [[IndexStore]] generation once
    //    ([[ivfPqStoreDir]], maintenance memo), and the timed query
    //    searches the LOADED index — quantizer tables hydrated from
    //    bounded parquet metadata, codes scanned through the
    //    cell-partitioned layout where the probe's cell filter is a
    //    STATIC partition prune (IndexStoreSpec pins the
    //    PartitionFilters on the loaded probe). n_rows is exact-gated
    //    against the corpus
    //    count (the manifest's row count survived the round trip); the
    //    search flags are q218's invariant pattern — IndexStoreSpec pins
    //    the loaded ADC ranking ≡ the in-memory one bit-for-bit, so they
    //    hold iff q218's do.
    "q249_ann_ivfpq_store" -> { (s, d) =>
      val dir = ivfPqStoreDir(s, d)
      val (idx, meta) = IndexStore.loadIvfPq(s, dir)
      val embs = Tables.embeddings(s, d).filter(col("vec_id") =!= 0)
      val qv = Tables.embeddings(s, d).filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      val qlit = typedlit(qv)
      val exactIds = embs.select(col("vec_id"),
          (Similarity.dot(col("embedding"), col("embedding"))
            - lit(2) * Similarity.dot(col("embedding"), qlit)
            + Similarity.dot(qlit, qlit)).as("d2"))
        .orderBy(col("d2").asc, col("vec_id"))
        .limit(10)
        .collect().map(_.getLong(0)).toSeq
      val pruned = Similarity.ivfPqSearchAdc(idx, qv, k = 10, nprobe = 2)
        .collect().map(_.getLong(0)).toSeq
      val allProbe = Similarity.ivfPqSearchAdc(idx, qv, k = 10, nprobe = 8)
        .collect().map(_.getLong(0)).toSeq
      val s2 = s
      import s2.implicits._
      Seq((exactIds.head, meta.rows, pruned.contains(exactIds.head),
          allProbe.count(exactIds.toSet) >= 5))
        .toDF("exact_l2_top1", "n_rows", "pruned_hit_top10", "recall_ok")
    },

    // -- SemDeDup-style embedding near-dup at scale: blocked by BANDED
    //    sign-LSH (q47's declared scale path made first-class — no label
    //    crutch, no all-pairs; 4 bands × 4 sign bits, the measured
    //    recall/candidate trade on this data, see Similarity.bandKeys).
    //    The oracle recomputes the SAME deterministic hyperplanes from
    //    Similarity.planes (the generated-constants pattern q37 uses for
    //    its BPE merges table).
    "q102_lsh_neardup" -> { (s, d) =>
      Dedup.lshNearDups(
          Tables.embeddings(s, d), col("vec_id"), col("embedding"),
          nBands = 4, planesPerBand = 4, dim = 64, threshold = 0.25)
        .orderBy(col("a_id"), col("b_id"))
    },

    // -- incremental maintenance of the q102 pair ledger: 80% of the
    //    vectors are the existing ledger's corpus, the rest arrive as
    //    the ingest window; old pairs (base-only recompute stands in
    //    for the stored ledger) union the DELTA pairs — every pair
    //    touching a new vector, generated with NO old×old candidate
    //    work (Dedup.lshNearDupsDelta). Oracle = the full-corpus q102
    //    pair set: incremental ≡ full is the q130-class maintenance
    //    invariant, now for the embedding ledger — closing the set:
    //    text ledger (q130), graph substrate (q239), IVF index (q243),
    //    semantic ledger (q244) are all incrementally maintainable.
    "q244_lsh_ledger_delta" -> { (s, d) =>
      val embs = Tables.embeddings(s, d)
      val base = embs.filter(col("vec_id") % 5 =!= 0)
      val delta = embs.filter(col("vec_id") % 5 === 0)
      Dedup.lshNearDups(base, col("vec_id"), col("embedding"),
          nBands = 4, planesPerBand = 4, dim = 64, threshold = 0.25)
        .unionByName(Dedup.lshNearDupsDelta(base, delta,
          col("vec_id"), col("embedding"),
          nBands = 4, planesPerBand = 4, dim = 64, threshold = 0.25))
        .orderBy(col("a_id"), col("b_id"))
    },

    // -- TIME-TRAVEL on the semantic ledger (q252 ∘ q261's pattern):
    //    after the store folded the delta and compacted, read the
    //    keep/drop ledger AS OF the SEED commit through the archived
    //    manifest. Oracle = q212's recursive-closure recompute
    //    restricted to the seed vectors: snapshot read ≡ as-it-was
    //    recompute. Order-independent with q252 (replay no-ops).
    "q266_semledger_asof" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val dir = semStoreDir(s, d)
      graft.dedup.SemLedgerStore.maintainBatch(
        e.filter(col("vec_id") % 5 === 0), col("vec_id"), col("embedding"),
        dir, batchId = 1L)
      graft.dedup.SemLedgerStore.compact(s, dir)
      val lbl = graft.dedup.SemLedgerStore.loadAt(s, dir, 0L)._3
        .select(col("id").as("vec_id"), col("comp"))
      val sizes = lbl.groupBy(col("comp")).agg(count(lit(1)).as("comp_size"))
      lbl.join(sizes, Seq("comp"))
        .select(col("vec_id"), col("comp"), col("comp_size"),
          (col("vec_id") === col("comp")).as("is_canonical"))
        .orderBy(col("vec_id"))
    },

    // -- SEMANTIC DECONTAMINATION (round-11 verdict #6): q77 screens
    //    train docs that overlap eval TEXT; this is the embedding-space
    //    gate — a train doc is contaminated when its VECTOR is close to
    //    any eval vector (cosine ≥ 0.25 through the banded sign-LSH
    //    blocking: eval probes the maintained substrate's buckets, only
    //    shared-bucket candidates pay the exact cosine — never
    //    all-pairs, the SemDeDup plan pointed at the eval axis). The
    //    train side is the PERSISTED SemLedgerStore ([[semDecontamDir]]
    //    memo): this query folds the remaining train vectors through
    //    the disk path (delta-sized, replay no-op), then probes the
    //    STORED vectors with the eval set — the decontamination gate is
    //    delta-foldable maintained state, not a per-run rebuild. Oracle
    //    = the q102-style exact recompute: the same generated
    //    hyperplanes, banding, and cosine in SQL, restricted to
    //    train×eval crossings.
    "q263_sem_decontaminate" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val evalV = e.filter(col("vec_id") % 10 === 0)
      val cut = e.agg(max(col("vec_id"))).head.getLong(0) * 4 / 5
      val dir = semDecontamDir(s, d)
      // fold the train tail through the store (idempotent replay)
      graft.dedup.SemLedgerStore.maintainBatch(
        e.filter(col("vec_id") % 10 =!= 0 && !(col("vec_id") < cut)),
        col("vec_id"), col("embedding"), dir, batchId = 1L)
      val stored = graft.dedup.SemLedgerStore.load(s, dir)._1
        .select(col("id").as("vec_id"), col("v").as("embedding"))
      val pairs = Dedup.lshNearDupsDelta(stored, evalV,
        col("vec_id"), col("embedding"),
        nBands = 4, planesPerBand = 4, dim = 64, threshold = 0.25)
      val isEval = (c: org.apache.spark.sql.Column) => c % 10 === 0
      // keep train×eval crossings only (the delta generator also pairs
      // eval×eval); the train side is whichever end is not eval
      val hits = pairs
        .filter(isEval(col("a_id")) =!= isEval(col("b_id")))
        .select(when(isEval(col("a_id")), col("b_id"))
          .otherwise(col("a_id")).as("vec_id"))
        .groupBy(col("vec_id")).agg(count(lit(1)).as("n_eval_hits"))
      stored.select(col("vec_id"))
        .join(hits, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("n_eval_hits"), lit(0L)).as("n_eval_hits"),
          (coalesce(col("n_eval_hits"), lit(0L)) > 0).as("contaminated"))
        .orderBy(col("vec_id"))
    },

    // -- SemDeDup-style SEMANTIC dedup ledger: q102's banded sign-LSH
    //    near-dup pairs clustered into connected components (min-label,
    //    the q75 machinery on the embedding id space) and rolled into
    //    the keep/drop ledger — the embedding-side twin of the text
    //    dedup ledger. At 100 TB this is the same blocking-based plan:
    //    banded candidate generation (never all-pairs), pair-bounded
    //    verify, O(V)-label component rounds. Probes the memoized
    //    [[semanticLedger]] — like the text ledger, the build is
    //    declared table maintenance refreshed with the corpus and
    //    warmed in Bench outside the timed window.
    "q212_semantic_dedup" -> { (s, d) =>
      semanticLedger(s, d).orderBy(col("vec_id"))
    },

    // -- q248/q251's EMBEDDING twin: the semantic ledger maintained
    //    THROUGH PARQUET — seed on 80% of the vectors (semStoreDir
    //    memo), fold the 20% delta via the disk path (stored vectors
    //    read back, delta-only bucket work, label contraction, a
    //    generation published; replay no-op on repeat), COMPACT the
    //    slice window (must be invisible), and emit the loaded ledger.
    //    Oracle = q212's full-corpus recursive-closure recompute:
    //    incremental-through-parquet-then-compacted ≡ full.
    "q252_semledger_store_fold" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val dir = semStoreDir(s, d)
      graft.dedup.SemLedgerStore.maintainBatch(
        e.filter(col("vec_id") % 5 === 0), col("vec_id"), col("embedding"),
        dir, batchId = 1L)
      graft.dedup.SemLedgerStore.compact(s, dir)
      val lbl = graft.dedup.SemLedgerStore.load(s, dir)._3
        .select(col("id").as("vec_id"), col("comp"))
      val sizes = lbl.groupBy(col("comp")).agg(count(lit(1)).as("comp_size"))
      lbl.join(sizes, Seq("comp"))
        .select(col("vec_id"), col("comp"), col("comp_size"),
          (col("vec_id") === col("comp")).as("is_canonical"))
        .orderBy(col("vec_id"))
    },

    // -- round 12: EMBEDDING REFRESH — the canonical LLM-ops flow
    //    (model upgrade → documents re-embed) as ONE atomic ledgered
    //    commit on the semantic ledger ([[graft.dedup.SemLedgerStore
    //    .upsertVecs]]): every %10==0 vector is RE-EMBEDDED (negated —
    //    flips its sign-LSH buckets and its cosines, a real semantic
    //    move both engines compute exactly), every %17==0 non-updated
    //    vector DELETED; tombstone slice + new vec/pair slices above it
    //    (the v5 slice-ordered mask) + purge-relabel ∘ fold-contraction
    //    labels, one commit, replay no-op on repeat. Oracle = the
    //    recursive-closure label recompute over the SIMULATED
    //    post-refresh corpus: upsert ≡ full recompute, the q244/q252
    //    maintenance invariant under UPDATE.
    "q277_sem_upsert" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val dir = semUpsertDir(s, d)
      val updated = e.filter(col("vec_id") % 10 === 0)
        .select(col("vec_id"),
          transform(col("embedding"), x => -x).as("embedding"))
      val removes = e.filter(col("vec_id") % 17 === 0 &&
          col("vec_id") % 10 =!= 0)
        .select(col("vec_id"))
      graft.dedup.SemLedgerStore.upsertVecs(updated, col("vec_id"),
        col("embedding"), removes, dir, batchId = 1L)
      val lbl = graft.dedup.SemLedgerStore.load(s, dir)._3
        .select(col("id").as("vec_id"), col("comp"))
      val sizes = lbl.groupBy(col("comp")).agg(count(lit(1)).as("comp_size"))
      lbl.join(sizes, Seq("comp"))
        .select(col("vec_id"), col("comp"), col("comp_size"),
          (col("vec_id") === col("comp")).as("is_canonical"))
        .orderBy(col("vec_id"))
    },

    // -- round 13: VECTOR REFRESH on the persisted IVF index — the last
    //    cell of the upsert matrix (q276 postings / q277 semantic /
    //    q278 text ledger). One atomic [[IndexStore.upsertVectors]]
    //    commit: every %10 vector RE-EMBEDDED (negated — moves its cell
    //    assignment and its cosines, both engines compute it exactly),
    //    every %17 non-updated vector DELETED, every %9 vector's twin
    //    ADDED under a fresh id (update+delete+add in one batch);
    //    tombstone slice + re-assigned data slice above it (the v4
    //    slice-ordered mask) + stats −old+new, one commit, replay no-op
    //    on repeat (IndexStoreSpec). Probing ALL cells over the masked
    //    store is provably exhaustive, so the search ≡ the exact cosine
    //    top-k the oracle recomputes over the SIMULATED post-refresh
    //    corpus, and n_rows pins the manifest stats to its COUNT(*).
    "q279_ivf_upsert" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val dir = ivfUpsertDir(s, d)
      val (updated, added, removes) = refreshDelta(e)
      IndexStore.upsertVectors(updated.unionByName(added), col("vec_id"),
        col("embedding"), removes.select(col("vec_id")), dir, batchId = 1L)
      val (idx, meta) = IndexStore.loadIvf(s, dir)
      IndexStore.searchPruned(idx, queryVec(s, d), k = 10, nprobe = 8)
        .withColumn("n_rows", lit(meta.rows))
    },

    // -- q279's composite twin: the same refresh batch through
    //    [[IndexStore.upsertPqVectors]] — old codes retired, new vectors
    //    encoded against the FROZEN cells/codebooks, raw-vecs side table
    //    rewritten, one generation publish carrying data + stats +
    //    ledger. n_codes is exact-gated against the post-refresh corpus
    //    count; exact_l2_top1 is oracle-recomputed over that corpus; the
    //    all-probe recall flag is the q247 drift-adjusted invariant
    //    pattern (codes for the re-embedded vectors quantize against
    //    codebooks trained before the refresh).
    "q280_ivfpq_upsert" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val dir = ivfPqUpsertDir(s, d)
      val neg = transform(col("embedding"), x => -x)
      val (updated, added, removes) = refreshDelta(e)
      IndexStore.upsertPqVectors(updated.unionByName(added), col("vec_id"),
        col("embedding"), removes.select(col("vec_id")), dir, batchId = 1L)
      val (idx, meta) = IndexStore.loadIvfPq(s, dir)
      val qv = e.filter(col("vec_id") === 0)
        .select(col("embedding")).head().getSeq[Float](0).map(_.toDouble).toSeq
      val qlit = typedlit(qv)
      // the simulated post-refresh corpus, for the exact-L2 reference
      val corpus = e.filter(col("vec_id") =!= 0 &&
          !(col("vec_id") % 17 === 0 && col("vec_id") % 10 =!= 0))
        .select(col("vec_id"),
          when(col("vec_id") % 10 === 0, neg).otherwise(col("embedding"))
            .as("embedding"))
        .unionByName(added)
      val exactIds = corpus.select(col("vec_id"),
          (Similarity.dot(col("embedding"), col("embedding"))
            - lit(2) * Similarity.dot(col("embedding"), qlit)
            + Similarity.dot(qlit, qlit)).as("d2"))
        .orderBy(col("d2").asc, col("vec_id"))
        .limit(10)
        .collect().map(_.getLong(0)).toSeq
      val allProbe = Similarity.ivfPqSearchAdc(idx, qv, k = 10, nprobe = 8)
        .collect().map(_.getLong(0)).toSeq
      val s2 = s
      import s2.implicits._
      Seq((exactIds.head, meta.rows,
          allProbe.count(exactIds.toSet) >= 3))
        .toDF("exact_l2_top1", "n_codes", "recall_ok")
    },

    // -- round 13: the WAREHOUSE→EMBEDDINGS CASCADE — the q279/q280
    //    refresh flows as warehouse CDC (one merge commit of MODIFY/
    //    INSERT/REMOVE envelopes through the real startMerge path), and
    //    a [[graft.util.Cascade.semFollower]] maintains the
    //    semantic ledger FROM the table's `changes.merge` feed: updates
    //    re-embed atomically (the upsertVecs one-commit verb), REMOVEs
    //    propagate as ledger purges — the compliance-deletion path to
    //    embeddings, exactly-once end-to-end. The followed ledger's
    //    labeling must equal the full near-dup closure recomputed over
    //    the simulated post-refresh corpus (the q277 oracle machinery
    //    over the q279 corpus).
    "q281_sem_cascade" -> { (s, d) =>
      val dir = semCascadeDir(s, d)
      val lbl = graft.dedup.SemLedgerStore.load(s, dir)._3
        .select(col("id").as("vec_id"), col("comp"))
      val sizes = lbl.groupBy(col("comp")).agg(count(lit(1)).as("comp_size"))
      lbl.join(sizes, Seq("comp"))
        .select(col("vec_id"), col("comp"), col("comp_size"),
          (col("vec_id") === col("comp")).as("is_canonical"))
        .orderBy(col("vec_id"))
    },

    // -- q281's search-side twin: a [[graft.util.Cascade.ivfFollower]] keeps
    //    the persisted IVF index in sync with the warehouse through the
    //    same feed, on [[IndexStore.upsertVectors]]'s one-commit
    //    atomicity. Full-probe over the followed store ≡ the exact
    //    cosine top-k over the post-refresh corpus (the q279 oracle,
    //    verbatim); n_rows pins the followed stats.
    "q282_index_cascade" -> { (s, d) =>
      val dir = ivfCascadeDir(s, d)
      val (idx, meta) = IndexStore.loadIvf(s, dir)
      IndexStore.searchPruned(idx, queryVec(s, d), k = 10, nprobe = 8)
        .withColumn("n_rows", lit(meta.rows))
    },

    // -- the ATOMIC cascade: both stores followed the SAME feed window
    //    under one PipelineLedger set commit; this query composes them
    //    AT THEIR PINNED COMMITS — the full-probe top-10 from the
    //    pinned index, each hit annotated with its near-dup component
    //    from the pinned semantic ledger — and must equal the exact
    //    recompute over the post-refresh corpus (topk + closure in one
    //    oracle). A half-applied window could not produce this output:
    //    the set manifest is written only after every store committed.
    "q285_cascade_set" -> { (s, d) =>
      val base = cascadeSetDir(s, d)
      val set = graft.util.PipelineLedger.readSet(s, s"$base/set")
      val (idx, meta) = IndexStore.loadIvfAt(s, s"$base/index",
        set.stores("index"))
      val lbl = graft.dedup.SemLedgerStore.loadAt(s, s"$base/sem",
        set.stores("sem"))._3
      IndexStore.searchPruned(idx, queryVec(s, d), k = 10, nprobe = 8)
        .withColumn("n_rows", lit(meta.rows))
        .join(lbl.select(col("id").as("nn_id"), col("comp")),
          Seq("nn_id"), "left")
        .select(col("nn_id"), col("cosine"),
          coalesce(col("comp"), col("nn_id")).as("comp"), col("n_rows"))
        .orderBy(col("cosine").desc, col("nn_id"))
    },

    // -- round 14: the SIX-STORE atomic cascade — every maintained
    //    substrate followed the SAME feed window under ONE set commit;
    //    this query composes pinned reads across ALL SIX (IVF top-10 +
    //    semantic component + text-dedup component + BM25 doclen +
    //    basket co-purchase weight + IVF-PQ stats/recall) and must
    //    equal one recompute over the post-refresh corpus. A
    //    half-applied window cannot produce this output: the set
    //    manifest is written only after every store committed, and
    //    each facet would drift independently.
    "q287_cascade_set_all" -> { (s, d) =>
      val base = cascadeSetAllDir(s, d)
      val set = graft.util.PipelineLedger.readSet(s, s"$base/set")
      val semSel = graft.dedup.SemLedgerStore.loadAt(s, s"$base/sem",
        set.stores("sem"))._3
        .select(col("id").as("nn_id"), col("comp").as("sem_comp"))
      val txtSel = graft.dedup.LedgerStore.loadAt(s, s"$base/ledger",
        set.stores("ledger"))._1
        .select(col("id").as("nn_id"), col("comp").as("text_comp"))
      val dlSel = graft.text.PostingsStore.docLengthsAt(s,
        s"$base/postings", set.stores("postings"))
        .select(col("id").as("nn_id"), col("dl").as("doclen"))
      val pairs = graft.warehouse.GraphStore.loadAt(s, s"$base/graph",
        set.stores("graph"))._2
      // The exact-probe chain (IVF load -> pruned search -> checkpoint
      // -> top-id collect) and the PQ chain (IVF-PQ load -> query-vec
      // head -> ADC collect) are INDEPENDENT sequences of small jobs —
      // run them from two driver threads so one chain's jobs back-fill
      // the cores the other's tiny stages leave idle (guide §2.6 /
      // round 16: the composed read was 46 sequential stages carrying
      // 1.9 summed task-seconds — pure orchestration latency). Results
      // are bounded 10-id lists either way; nothing about the plans or
      // their outputs changes, only their scheduling overlaps. Par.all
      // awaits both chains before rethrowing a failure and cancels
      // both when the caller is interrupted.
      val Seq(Left((tk, meta, topIds)), Right((adc, pqMeta))) =
        graft.util.Par.all(Seq(
          () => Left {
            val (idx, meta) = IndexStore.loadIvfAt(s, s"$base/index",
              set.stores("index"))
            val tk = IndexStore.searchPruned(idx, queryVec(s, d), k = 10,
              nprobe = 8).localCheckpoint(true)
            val topIds = tk.select(col("nn_id")).collect()
              .map(_.getLong(0)).toSet
            (tk, meta, topIds)
          },
          // PQ invariant flag (the q280/q247 pattern): the pinned
          // composite index's ADC top-10 must overlap the exact top-10
          // by >= 3. Driver-side work is two bounded 10-id lists.
          () => Right {
            val (pqIdx, pqMeta) = IndexStore.loadIvfPqAt(s, s"$base/pq",
              set.stores("pq"))
            val qv = queryVec(s, d).head().getSeq[Float](0)
              .map(_.toDouble).toSeq
            (Similarity.ivfPqSearchAdc(pqIdx, qv, k = 10,
              nprobe = 8).collect().map(_.getLong(0)), pqMeta)
          }))
      val pqOk = adc.count(topIds) >= 3
      // the hits' CURRENT baskets (the merge table IS the post-refresh
      // corpus) -> their three pairwise edges from the PINNED graph.
      // broadcast(hits) keeps the corpus scan semi-join-pruned.
      val hits = tk.select(col("nn_id"))
      val items = graft.cdc.Apply.readMergeTable(s,
          s"${cascadeMergeDir(s, d)}/table")
        .select(col("vec_id").as("nn_id"), cascadeItemsOf.as("items"))
        .join(broadcast(hits), Seq("nn_id"))
      val bp = items.select(col("nn_id"), explode(array(
          struct(element_at(col("items"), 1).as("u"),
            element_at(col("items"), 2).as("v")),
          struct(element_at(col("items"), 1).as("u"),
            element_at(col("items"), 3).as("v")),
          struct(element_at(col("items"), 2).as("u"),
            element_at(col("items"), 3).as("v")))).as("p"))
        .select(col("nn_id"), col("p.u").as("u"), col("p.v").as("v"))
      val wt = pairs.join(broadcast(bp), Seq("u", "v"))
        .groupBy(col("nn_id")).agg(sum(col("n_ab")).as("basket_wt"))
      tk.join(semSel, Seq("nn_id")).join(txtSel, Seq("nn_id"))
        .join(dlSel, Seq("nn_id")).join(wt, Seq("nn_id"))
        .select(col("nn_id"), col("cosine"), col("sem_comp"),
          col("text_comp"), col("doclen"), col("basket_wt"),
          lit(meta.rows).as("n_rows"), lit(pqMeta.rows).as("pq_rows"),
          lit(pqOk).as("pq_recall_ok"))
        .orderBy(col("cosine").desc, col("nn_id"))
    },

    // -- k-NN label vote (the data-labeling / label-propagation face of
    //    the search stack): the first 10 vectors are unlabeled queries,
    //    the rest the labeled corpus; each query takes the majority
    //    label of its 5 nearest neighbors by INTEGER quantized L2
    //    (q100's code space — engine-bit-stable ranking). The per-query
    //    top-5 is the mergeable TopKByValue Aggregator, NOT a per-query
    //    window — the shuffle carries 5 rows per query per map task, so
    //    a corpus-sized candidate list never funnels through one sort
    //    task (the q115 lesson applied to search). Tie-break: higher
    //    vote count, then lower label; neighbor ties by lower id.
    "q194_knn_classify" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val base = e.filter(col("vec_id") >= 10)
      val (mins, maxs) = Similarity.quantRanges(base, col("embedding"))
      val topk = udaf(new graft.functions.TopKByValue(5))
      val qc = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"),
          col("label").cast("long").as("true_label"),
          Similarity.quantCodes(col("embedding"), mins, maxs).as("qcodes"))
      val bc = base.select(col("vec_id").as("nn_id"),
        Similarity.quantCodes(col("embedding"), mins, maxs).as("codes"))
      val qdist = aggregate(
        zip_with(col("codes"), col("qcodes"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, v) => acc + v)
      val top5 = bc
        .crossJoin(broadcast(qc.select(col("query_id"), col("qcodes"))))
        .select(col("query_id"), col("nn_id"), qdist.as("qdist"))
        .groupBy(col("query_id"))
        .agg(topk((-col("qdist")).cast("double"), col("nn_id")).as("top"))
        .select(col("query_id"), explode(col("top.keys")).as("nn_id"))
      val votes = e
        .select(col("vec_id").as("nn_id"), col("label").cast("long").as("label"))
        .join(broadcast(top5), Seq("nn_id"))
        .groupBy(col("query_id"), col("label"))
        .agg(count(lit(1)).as("n_votes"))
      votes.groupBy(col("query_id"))
        .agg(max(struct(col("n_votes"), (-col("label")).as("neg"))).as("b"))
        .select(col("query_id"), (-col("b.neg")).as("pred_label"),
          col("b.n_votes").as("n_votes"))
        .join(broadcast(qc.select(col("query_id"), col("true_label"))),
          Seq("query_id"))
        .orderBy(col("query_id"))
    },

    // -- hard-negative mining (contrastive-training data prep): for each
    //    labeled query, the NEAREST corpus vector carrying a DIFFERENT
    //    label — the negative that actually moves a contrastive loss.
    //    Same integer code space and mergeable top-k path as q194 (k=1),
    //    with the label-mismatch filter applied BEFORE the aggregate so
    //    the per-query state is one row. Distance comes back exactly as
    //    the negated stored value (integer-valued doubles ≤ 254²·64 are
    //    exact), so the output is BIGINT end-to-end.
    "q198_hard_negatives" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val base = e.filter(col("vec_id") >= 10)
      val (mins, maxs) = Similarity.quantRanges(base, col("embedding"))
      val top1 = udaf(new graft.functions.TopKByValue(1))
      val qc = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"),
          col("label").cast("long").as("true_label"),
          Similarity.quantCodes(col("embedding"), mins, maxs).as("qcodes"))
      val bc = base.select(col("vec_id").as("nn_id"),
        col("label").cast("long").as("nn_label"),
        Similarity.quantCodes(col("embedding"), mins, maxs).as("codes"))
      val qdist = aggregate(
        zip_with(col("codes"), col("qcodes"), (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, v) => acc + v)
      bc.crossJoin(broadcast(qc))
        .filter(col("nn_label") =!= col("true_label"))
        .select(col("query_id"), col("true_label"), col("nn_id"),
          qdist.as("qdist"))
        .groupBy(col("query_id"), col("true_label"))
        .agg(top1((-col("qdist")).cast("double"), col("nn_id")).as("top"))
        .select(col("query_id"), col("true_label"),
          element_at(col("top.keys"), 1).as("neg_id"),
          (-element_at(col("top.vals"), 1)).cast("long").as("neg_qdist"))
        .orderBy(col("query_id"))
    },

    // -- class prototypes (nearest-class-mean classification, clustering
    //    seeds, drift baselines): per-(label, dimension) mean of the
    //    quantized codes — exact BIGINT sums with ONE IEEE division per
    //    cell, so the prototype table is engine-reproducible where a
    //    float-sum mean would be order-dependent. One posexplode into a
    //    (label × dim)-bounded map-side-combined rollup: the shuffle
    //    never exceeds labels·dims rows per map task at ANY corpus size.
    "q195_label_centroids" -> { (s, d) =>
      val e = Tables.embeddings(s, d)
      val (mins, maxs) = Similarity.quantRanges(e, col("embedding"))
      e.select(col("label").cast("long").as("label"),
          posexplode(Similarity.quantCodes(col("embedding"), mins, maxs))
            .as(Seq("dim0", "code")))
        .select(col("label"), (col("dim0") + 1).cast("long").as("dim"),
          col("code"))
        .groupBy(col("label"), col("dim"))
        .agg(count(lit(1)).as("n"), sum(col("code")).as("sum_code"))
        .withColumn("mean_code",
          col("sum_code").cast("double") / col("n").cast("double"))
        .orderBy(col("label"), col("dim"))
    }
  )

  private val cosSql =
    "LIST_DOT_PRODUCT(%s, %s) / (SQRT(LIST_DOT_PRODUCT(%s, %s)) * SQRT(LIST_DOT_PRODUCT(%s, %s)))"

  /** q230's constants, shared with the generated oracle. The diversity
    * weight is interpolated from the SAME Scala double (1.0 − λ =
    * 0.30000000000000004, not the decimal 0.3) so both engines multiply
    * by the identical bit pattern. */
  private val MmrK = 10
  private val MmrN = 30
  private val MmrLambda = 0.7

  /** The q230 oracle: candidate CTE (exact top-N) + the K greedy rounds
    * unrolled (the q150 pattern), each an argmax on the same fixed IEEE
    * score tree Spark evaluates, accumulating the selected set. */
  private lazy val mmrSql: String = {
    val mu = 1.0 - MmrLambda
    def cos(a: String, b: String) = cosSql.format(a, b, a, a, b, b)
    // every p/s step MATERIALIZED: p_k references s_{k-1} twice and s_k a
    // third time, so un-materialized CTE inlining is 3^K copies of the
    // candidate scan (the q150 unroll lesson)
    val rounds = (2 to MmrK).map { r =>
      s"""p$r AS MATERIALIZED (
        |  SELECT CAST($r AS BIGINT) AS pick, c.vec_id, c.v, c.rel,
        |    $MmrLambda * c.rel - $mu * MAX(${cos("c.v", "s.v")}) AS mmr
        |  FROM cand c, s${r - 1} s
        |  WHERE c.vec_id NOT IN (SELECT vec_id FROM s${r - 1})
        |  GROUP BY c.vec_id, c.v, c.rel
        |  ORDER BY mmr DESC, c.vec_id LIMIT 1),
        |s$r AS MATERIALIZED (
        |  SELECT * FROM s${r - 1} UNION ALL SELECT * FROM p$r)""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
      |cand AS MATERIALIZED (
      |  SELECT vec_id, embedding::DOUBLE[] AS v,
      |    ${cos("embedding::DOUBLE[]", "qv")} AS rel
      |  FROM embeddings, q WHERE vec_id <> 0
      |  ORDER BY rel DESC, vec_id LIMIT $MmrN),
      |p1 AS MATERIALIZED (
      |  SELECT CAST(1 AS BIGINT) AS pick, vec_id, v, rel,
      |    $MmrLambda * rel - $mu * 0.0 AS mmr
      |  FROM cand ORDER BY mmr DESC, vec_id LIMIT 1),
      |s1 AS MATERIALIZED (SELECT * FROM p1),
      |$rounds
      |SELECT pick, vec_id AS nn_id, rel, mmr FROM s$MmrK ORDER BY pick""".stripMargin
  }

  private val exactTopKSql =
    """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0)
      |SELECT vec_id AS nn_id,
      |  LIST_DOT_PRODUCT(embedding::DOUBLE[], qv)
      |    / (SQRT(LIST_DOT_PRODUCT(embedding::DOUBLE[], embedding::DOUBLE[]))
      |       * SQRT(LIST_DOT_PRODUCT(qv, qv))) AS cosine
      |FROM embeddings, q WHERE vec_id <> 0
      |ORDER BY cosine DESC, nn_id LIMIT 10""".stripMargin

  /** q102/q212's shared generated-constants pair CTE: the SAME
    * deterministic hyperplanes as `Similarity.planes`, banded sign
    * buckets, candidate join, cosine verify — ending in a `vpairs`
    * (a_id, b_id, cosine) CTE both oracles build on. `pred` restricts
    * the vector universe ("TRUE" = full corpus; q266 restricts to the
    * seed slice — the snapshot oracle recomputes over the corpus AS IT
    * WAS). */
  private def lshPairsCtesWhere(pred: String): String =
    lshPairsCtesFromE(
      s"""SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
         |  WHERE $pred""".stripMargin)

  /** The same pair CTEs over an ARBITRARY vector universe (`eSelect`
    * must yield (vec_id, v DOUBLE[])) — q277's post-refresh corpus
    * transforms vectors, not just filters rows. */
  private def lshPairsCtesFromE(eSelect: String): String = {
    val pls = Similarity.planes(4 * 4, 64)
    def bucketSql(b: Int): String = (0 until 4).map { j =>
      s"(CASE WHEN LIST_DOT_PRODUCT(v, [${pls(b * 4 + j).mkString(", ")}]) >= 0 THEN ${1 << j} ELSE 0 END)"
    }.mkString("\n    + ")
    val bandsSql = (0 until 4).map { b =>
      s"SELECT vec_id, v, $b AS band, ${bucketSql(b)} AS bucket FROM e"
    }.mkString("\n  UNION ALL\n  ")
    s"""e AS ($eSelect),
      |k AS (
      |  $bandsSql),
      |cand AS (
      |  SELECT DISTINCT a.vec_id AS a_id, c.vec_id AS b_id, a.v AS a_v, c.v AS b_v
      |  FROM k a JOIN k c ON a.band = c.band AND a.bucket = c.bucket
      |    AND a.vec_id < c.vec_id),
      |vpairs AS (
      |  SELECT a_id, b_id,
      |    LIST_DOT_PRODUCT(a_v, b_v)
      |      / (SQRT(LIST_DOT_PRODUCT(a_v, a_v)) * SQRT(LIST_DOT_PRODUCT(b_v, b_v))) AS cosine
      |  FROM cand
      |  WHERE LIST_DOT_PRODUCT(a_v, b_v)
      |      / (SQRT(LIST_DOT_PRODUCT(a_v, a_v)) * SQRT(LIST_DOT_PRODUCT(b_v, b_v))) >= 0.25)""".stripMargin
  }

  private lazy val lshPairsCtes: String = lshPairsCtesWhere("TRUE")

  /** q279/q280's SIMULATED post-refresh corpus as a `corpus (vec_id,
    * v DOUBLE[])` CTE: %10 vectors negated in place (re-embedded), %17
    * non-updated vectors absent (deleted), %9 twins added under fresh
    * ids (float negation is exact, so cast-then-negate ≡ the engine's
    * negate-then-cast bit for bit). */
  private val postRefreshCorpusSelect: String =
    """SELECT vec_id,
      |    CASE WHEN vec_id % 10 = 0
      |         THEN LIST_TRANSFORM(embedding::DOUBLE[], x -> -x)
      |         ELSE embedding::DOUBLE[] END AS v
      |  FROM embeddings
      |  WHERE vec_id <> 0 AND NOT (vec_id % 17 = 0 AND vec_id % 10 <> 0)
      |  UNION ALL
      |  SELECT vec_id + 100000000 AS vec_id,
      |    LIST_TRANSFORM(embedding::DOUBLE[], x -> -x) AS v
      |  FROM embeddings WHERE vec_id % 9 = 0 AND vec_id <> 0""".stripMargin

  private val postRefreshCorpusSql: String =
    s"""corpus AS (
      |  $postRefreshCorpusSelect)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q42_ann_bruteforce" -> exactTopKSql,
    // all-probe configs are exhaustive, hence share the exact-top-k oracle
    "q43_ann_ivf" -> exactTopKSql,
    "q66_ann_lsh" -> exactTopKSql,
    // all-probe over base + inserted delta is exhaustive as well
    "q243_ann_ivf_incremental" -> exactTopKSql,
    "q230_mmr_rerank" -> mmrSql,

    // Exact-L2 top-1 recomputed with the identical op order
    // (a·a − 2·a·q + q·q, left-to-right); the PQ quality flags are the
    // q49 invariant pattern (lossy sketch pinned by a band the exact
    // recomputation defines).
    "q137_ann_pq" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |d AS (
        |  SELECT vec_id,
        |    LIST_DOT_PRODUCT(embedding::DOUBLE[], embedding::DOUBLE[])
        |      - 2 * LIST_DOT_PRODUCT(embedding::DOUBLE[], qv)
        |      + LIST_DOT_PRODUCT(qv, qv) AS d2
        |  FROM embeddings, q WHERE vec_id <> 0)
        |SELECT (SELECT vec_id FROM d ORDER BY d2, vec_id LIMIT 1) AS exact_l2_top1,
        |  TRUE AS pq_hit_top10, TRUE AS recall_ok""".stripMargin,

    // Same invariant pattern for the composite index: the exact-L2 top-1
    // is recomputed; the three quality/pruning flags are deterministic
    // claims the engine must make true.
    "q218_ann_ivfpq" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |d AS (
        |  SELECT vec_id,
        |    LIST_DOT_PRODUCT(embedding::DOUBLE[], embedding::DOUBLE[])
        |      - 2 * LIST_DOT_PRODUCT(embedding::DOUBLE[], qv)
        |      + LIST_DOT_PRODUCT(qv, qv) AS d2
        |  FROM embeddings, q WHERE vec_id <> 0)
        |SELECT (SELECT vec_id FROM d ORDER BY d2, vec_id LIMIT 1) AS exact_l2_top1,
        |  TRUE AS pruned_hit_top10, TRUE AS recall_ok,
        |  TRUE AS pruned_scan_ok""".stripMargin,

    // The grown composite index: top-1 and the code-table count are
    // exact-gated (COUNT(*) pins that insertion reached every vector);
    // the recall faces are the q218 invariant flags.
    "q247_ann_ivfpq_incremental" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |d AS (
        |  SELECT vec_id,
        |    LIST_DOT_PRODUCT(embedding::DOUBLE[], embedding::DOUBLE[])
        |      - 2 * LIST_DOT_PRODUCT(embedding::DOUBLE[], qv)
        |      + LIST_DOT_PRODUCT(qv, qv) AS d2
        |  FROM embeddings, q WHERE vec_id <> 0)
        |SELECT (SELECT vec_id FROM d ORDER BY d2, vec_id LIMIT 1) AS exact_l2_top1,
        |  (SELECT COUNT(*) FROM embeddings WHERE vec_id <> 0) AS n_codes,
        |  TRUE AS allprobe_hit_top10, TRUE AS recall_ok""".stripMargin,

    // The persisted-store gate: top-1 and the manifest row count are
    // exact-gated; the search flags are q218's invariant pattern over
    // the loaded (bit-identical — IndexStoreSpec) index.
    "q249_ann_ivfpq_store" ->
      """WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |d AS (
        |  SELECT vec_id,
        |    LIST_DOT_PRODUCT(embedding::DOUBLE[], embedding::DOUBLE[])
        |      - 2 * LIST_DOT_PRODUCT(embedding::DOUBLE[], qv)
        |      + LIST_DOT_PRODUCT(qv, qv) AS d2
        |  FROM embeddings, q WHERE vec_id <> 0)
        |SELECT (SELECT vec_id FROM d ORDER BY d2, vec_id LIMIT 1) AS exact_l2_top1,
        |  (SELECT COUNT(*) FROM embeddings WHERE vec_id <> 0) AS n_rows,
        |  TRUE AS pruned_hit_top10, TRUE AS recall_ok""".stripMargin,

    "q47_embedding_neardup" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v
        |  FROM embeddings WHERE vec_id < 300)
        |SELECT a.vec_id AS a_id, b.vec_id AS b_id,
        |  LIST_DOT_PRODUCT(a.v, b.v)
        |    / (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b.v, b.v))) AS cosine
        |FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
        |WHERE LIST_DOT_PRODUCT(a.v, b.v)
        |    / (SQRT(LIST_DOT_PRODUCT(a.v, a.v)) * SQRT(LIST_DOT_PRODUCT(b.v, b.v))) >= 0.25
        |ORDER BY a_id, b_id""".stripMargin,

    // Replays quantization verbatim: same per-dim ranges, same op-order-
    // pinned FLOOR((x - mn) * 254.0 / (mx - mn) + 0.5), integer L2.
    "q100_ann_quantized" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
        |dims AS (
        |  SELECT i, MIN(v[i]) AS mn, MAX(v[i]) AS mx
        |  FROM e, (SELECT UNNEST(RANGE(1, 65)) AS i)
        |  WHERE vec_id <> 0 GROUP BY i),
        |qc AS (
        |  SELECT i, CASE WHEN mx = mn THEN 0
        |    ELSE CAST(FLOOR((q.v[i] - mn) * 254.0 / (mx - mn) + 0.5) AS BIGINT) END AS qcode
        |  FROM dims, (SELECT v FROM e WHERE vec_id = 0) q),
        |codes AS (
        |  SELECT e.vec_id, d.i, CASE WHEN d.mx = d.mn THEN 0
        |    ELSE CAST(FLOOR((e.v[d.i] - d.mn) * 254.0 / (d.mx - d.mn) + 0.5) AS BIGINT) END AS code
        |  FROM e, dims d WHERE e.vec_id <> 0)
        |SELECT c.vec_id AS nn_id,
        |  CAST(SUM((c.code - qc.qcode) * (c.code - qc.qcode)) AS BIGINT) AS qdist
        |FROM codes c JOIN qc ON c.i = qc.i
        |GROUP BY c.vec_id ORDER BY qdist ASC, nn_id LIMIT 10""".stripMargin,

    "q102_lsh_neardup" ->
      s"""WITH $lshPairsCtes
        |SELECT a_id, b_id, cosine FROM vpairs
        |ORDER BY a_id, b_id""".stripMargin,

    // incremental ≡ full recompute: the maintenance invariant
    "q244_lsh_ledger_delta" ->
      s"""WITH $lshPairsCtes
        |SELECT a_id, b_id, cosine FROM vpairs
        |ORDER BY a_id, b_id""".stripMargin,

    // The disk fold + compact must land on the identical full-corpus
    // closure as the in-memory ledger.
    "q252_semledger_store_fold" ->
      s"""WITH RECURSIVE $lshPairsCtes,
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM vpairs
        |  UNION ALL SELECT b_id AS src, a_id AS dst FROM vpairs),
        |reach(id, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e2.src, r.lab FROM edges e2 JOIN reach r ON e2.dst = r.id),
        |lbl AS (SELECT id, MIN(lab) AS comp FROM reach GROUP BY id),
        |ledger AS (
        |  SELECT em.vec_id, COALESCE(l.comp, em.vec_id) AS comp
        |  FROM embeddings em LEFT JOIN lbl l ON em.vec_id = l.id)
        |SELECT vec_id, comp,
        |  CAST(COUNT(*) OVER (PARTITION BY comp) AS BIGINT) AS comp_size,
        |  vec_id = comp AS is_canonical
        |FROM ledger ORDER BY vec_id""".stripMargin,

    // The snapshot ledger must land on the closure recompute over the
    // SEED vectors only — the corpus as it was at commit 0.
    "q266_semledger_asof" ->
      s"""WITH RECURSIVE ${lshPairsCtesWhere("vec_id % 5 <> 0")},
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM vpairs
        |  UNION ALL SELECT b_id AS src, a_id AS dst FROM vpairs),
        |reach(id, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e2.src, r.lab FROM edges e2 JOIN reach r ON e2.dst = r.id),
        |lbl AS (SELECT id, MIN(lab) AS comp FROM reach GROUP BY id),
        |ledger AS (
        |  SELECT em.vec_id, COALESCE(l.comp, em.vec_id) AS comp
        |  FROM embeddings em LEFT JOIN lbl l ON em.vec_id = l.id
        |  WHERE em.vec_id % 5 <> 0)
        |SELECT vec_id, comp,
        |  CAST(COUNT(*) OVER (PARTITION BY comp) AS BIGINT) AS comp_size,
        |  vec_id = comp AS is_canonical
        |FROM ledger ORDER BY vec_id""".stripMargin,

    // The refreshed ledger must land on the closure recompute over the
    // SIMULATED post-refresh corpus: %10 vectors negated (re-embedded),
    // %17 non-updated vectors absent — upsert ≡ full recompute.
    "q277_sem_upsert" ->
      s"""WITH RECURSIVE ${lshPairsCtesFromE(
        """SELECT vec_id,
          |    CASE WHEN vec_id % 10 = 0
          |         THEN LIST_TRANSFORM(embedding::DOUBLE[], x -> -x)
          |         ELSE embedding::DOUBLE[] END AS v
          |  FROM embeddings
          |  WHERE NOT (vec_id % 17 = 0 AND vec_id % 10 <> 0)""".stripMargin)},
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM vpairs
        |  UNION ALL SELECT b_id AS src, a_id AS dst FROM vpairs),
        |reach(id, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e2.src, r.lab FROM edges e2 JOIN reach r ON e2.dst = r.id),
        |lbl AS (SELECT id, MIN(lab) AS comp FROM reach GROUP BY id),
        |ledger AS (
        |  SELECT em.vec_id, COALESCE(l.comp, em.vec_id) AS comp
        |  FROM embeddings em LEFT JOIN lbl l ON em.vec_id = l.id
        |  WHERE NOT (em.vec_id % 17 = 0 AND em.vec_id % 10 <> 0))
        |SELECT vec_id, comp,
        |  CAST(COUNT(*) OVER (PARTITION BY comp) AS BIGINT) AS comp_size,
        |  vec_id = comp AS is_canonical
        |FROM ledger ORDER BY vec_id""".stripMargin,

    // Full-probe over the refreshed store is exhaustive, so the masked
    // search must land on the exact cosine top-k over the SIMULATED
    // post-refresh corpus (%10 negated in place, %17 non-updated rows
    // absent, %9 twins added under fresh ids); n_rows pins the
    // manifest's −old+new stats to the corpus COUNT(*).
    "q279_ivf_upsert" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |$postRefreshCorpusSql,
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM corpus)
        |SELECT c.vec_id AS nn_id,
        |  LIST_DOT_PRODUCT(c.v, qv)
        |    / (SQRT(LIST_DOT_PRODUCT(c.v, c.v)) * SQRT(LIST_DOT_PRODUCT(qv, qv))) AS cosine,
        |  n.n_rows
        |FROM corpus c, q, n
        |ORDER BY cosine DESC, nn_id LIMIT 10""".stripMargin,

    // The composite twin: exact-L2 top-1 and the published code count
    // recomputed over the post-refresh corpus; the recall face is the
    // q247 drift-adjusted invariant flag.
    "q280_ivfpq_upsert" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |$postRefreshCorpusSql,
        |d AS (
        |  SELECT vec_id,
        |    LIST_DOT_PRODUCT(v, v) - 2 * LIST_DOT_PRODUCT(v, qv)
        |      + LIST_DOT_PRODUCT(qv, qv) AS d2
        |  FROM corpus, q)
        |SELECT (SELECT vec_id FROM d ORDER BY d2, vec_id LIMIT 1) AS exact_l2_top1,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM corpus) AS n_codes,
        |  TRUE AS recall_ok""".stripMargin,

    // The followed ledger's labeling ≡ the full near-dup closure over
    // the post-refresh corpus (q277's recursive machinery over q279's
    // corpus — the refresh reached the ledger THROUGH the warehouse
    // feed, so passing this pins the whole cascade).
    "q281_sem_cascade" ->
      s"""WITH RECURSIVE ${lshPairsCtesFromE(postRefreshCorpusSelect)},
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM vpairs
        |  UNION ALL SELECT b_id AS src, a_id AS dst FROM vpairs),
        |reach(id, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e2.src, r.lab FROM edges e2 JOIN reach r ON e2.dst = r.id),
        |lbl AS (SELECT id, MIN(lab) AS comp FROM reach GROUP BY id),
        |ledger AS (
        |  SELECT e.vec_id, COALESCE(l.comp, e.vec_id) AS comp
        |  FROM e LEFT JOIN lbl l ON e.vec_id = l.id)
        |SELECT vec_id, comp,
        |  CAST(COUNT(*) OVER (PARTITION BY comp) AS BIGINT) AS comp_size,
        |  vec_id = comp AS is_canonical
        |FROM ledger ORDER BY vec_id""".stripMargin,

    // The followed index serves the exact q279 search — the refresh
    // reached it through the feed + the atomic upsert verb.
    "q282_index_cascade" ->
      s"""WITH q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |$postRefreshCorpusSql,
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM corpus)
        |SELECT c.vec_id AS nn_id,
        |  LIST_DOT_PRODUCT(c.v, qv)
        |    / (SQRT(LIST_DOT_PRODUCT(c.v, c.v)) * SQRT(LIST_DOT_PRODUCT(qv, qv))) AS cosine,
        |  n.n_rows
        |FROM corpus c, q, n
        |ORDER BY cosine DESC, nn_id LIMIT 10""".stripMargin,

    // The composed set read: exact cosine top-10 over the post-refresh
    // corpus, each hit's component from the same corpus's near-dup
    // closure, corpus count as n_rows — one recompute checks both
    // pinned stores AND their mutual consistency.
    "q285_cascade_set" ->
      s"""WITH RECURSIVE ${lshPairsCtesFromE(postRefreshCorpusSelect)},
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM vpairs
        |  UNION ALL SELECT b_id AS src, a_id AS dst FROM vpairs),
        |reach(id, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e2.src, r.lab FROM edges e2 JOIN reach r ON e2.dst = r.id),
        |lbl AS (SELECT id, MIN(lab) AS comp FROM reach GROUP BY id),
        |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM e),
        |topk AS (
        |  SELECT c.vec_id AS nn_id,
        |    LIST_DOT_PRODUCT(c.v, qv)
        |      / (SQRT(LIST_DOT_PRODUCT(c.v, c.v)) * SQRT(LIST_DOT_PRODUCT(qv, qv))) AS cosine
        |  FROM e c, q
        |  ORDER BY cosine DESC, nn_id LIMIT 10)
        |SELECT t.nn_id, t.cosine, COALESCE(l.comp, t.nn_id) AS comp, n.n_rows
        |FROM topk t LEFT JOIN lbl l ON t.nn_id = l.id, n
        |ORDER BY cosine DESC, nn_id""".stripMargin,

    // The six-store composed set read: exact cosine top-10 over the
    // post-refresh corpus; each hit's semantic component from the
    // closure; its text-dedup component, doclen and basket pair
    // weights from the DERIVED facets (same (vec_id % 41, sign)
    // classes / congruence baskets the engine's hooks generate —
    // identical texts within a class make the text closure the class
    // partition, so MIN(vec_id) per class IS the exact ledger label);
    // corpus count pins both index manifests; the PQ recall face is
    // the q280 invariant flag.
    "q287_cascade_set_all" ->
      s"""WITH RECURSIVE ${lshPairsCtesFromE(postRefreshCorpusSelect)},
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM vpairs
        |  UNION ALL SELECT b_id AS src, a_id AS dst FROM vpairs),
        |reach(id, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e2.src, r.lab FROM edges e2 JOIN reach r ON e2.dst = r.id),
        |lbl AS (SELECT id, MIN(lab) AS comp FROM reach GROUP BY id),
        |q AS (SELECT embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id = 0),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rows FROM e),
        |cls AS (
        |  SELECT vec_id, vec_id % 41 AS c,
        |    CASE WHEN v[1] < 0 THEN 1 ELSE 0 END AS s,
        |    vec_id % 101 AS m101, vec_id % 89 AS m89, vec_id % 71 AS m71
        |  FROM e),
        |tcomp AS (
        |  SELECT vec_id, MIN(vec_id) OVER (PARTITION BY c, s) AS text_comp,
        |    CAST(4 + (c % 4) AS BIGINT) AS doclen
        |  FROM cls),
        |g12 AS (SELECT m101, m89, s, COUNT(*) AS n FROM cls GROUP BY 1, 2, 3),
        |g13 AS (SELECT m101, m71, s, COUNT(*) AS n FROM cls GROUP BY 1, 2, 3),
        |g23 AS (SELECT m89, m71, s, COUNT(*) AS n FROM cls GROUP BY 1, 2, 3),
        |topk AS (
        |  SELECT c.vec_id AS nn_id,
        |    LIST_DOT_PRODUCT(c.v, qv)
        |      / (SQRT(LIST_DOT_PRODUCT(c.v, c.v)) * SQRT(LIST_DOT_PRODUCT(qv, qv))) AS cosine
        |  FROM e c, q
        |  ORDER BY cosine DESC, nn_id LIMIT 10)
        |SELECT t.nn_id, t.cosine,
        |  COALESCE(l.comp, t.nn_id) AS sem_comp,
        |  tc.text_comp, tc.doclen,
        |  CAST(g12.n + g13.n + g23.n AS BIGINT) AS basket_wt,
        |  n.n_rows, n.n_rows AS pq_rows, TRUE AS pq_recall_ok
        |FROM topk t
        |  LEFT JOIN lbl l ON t.nn_id = l.id
        |  JOIN tcomp tc ON tc.vec_id = t.nn_id
        |  JOIN cls x ON x.vec_id = t.nn_id
        |  JOIN g12 ON g12.m101 = x.m101 AND g12.m89 = x.m89 AND g12.s = x.s
        |  JOIN g13 ON g13.m101 = x.m101 AND g13.m71 = x.m71 AND g13.s = x.s
        |  JOIN g23 ON g23.m89 = x.m89 AND g23.m71 = x.m71 AND g23.s = x.s,
        |  n
        |ORDER BY cosine DESC, nn_id""".stripMargin,

    // The same generated-hyperplane banding + exact cosine, restricted
    // to train×eval crossings — the store-served gate must land on the
    // full SQL recompute.
    "q263_sem_decontaminate" ->
      s"""WITH $lshPairsCtes,
        |x AS (
        |  SELECT CASE WHEN a_id % 10 = 0 THEN b_id ELSE a_id END AS vec_id
        |  FROM vpairs
        |  WHERE (a_id % 10 = 0) <> (b_id % 10 = 0)),
        |h AS (
        |  SELECT vec_id, CAST(COUNT(*) AS BIGINT) AS n_eval_hits
        |  FROM x GROUP BY 1)
        |SELECT em.vec_id,
        |  CAST(COALESCE(n_eval_hits, 0) AS BIGINT) AS n_eval_hits,
        |  COALESCE(n_eval_hits, 0) > 0 AS contaminated
        |FROM embeddings em LEFT JOIN h USING (vec_id)
        |WHERE em.vec_id % 10 <> 0
        |ORDER BY vec_id""".stripMargin,

    // q102's pair CTE + the q75 recursive min-label closure, on the
    // EMBEDDING id space: the SemDeDup-style semantic dedup ledger.
    "q212_semantic_dedup" ->
      s"""WITH RECURSIVE $lshPairsCtes,
        |edges AS (
        |  SELECT a_id AS src, b_id AS dst FROM vpairs
        |  UNION ALL SELECT b_id AS src, a_id AS dst FROM vpairs),
        |reach(id, lab) AS (
        |  SELECT src, src FROM edges
        |  UNION
        |  SELECT e2.src, r.lab FROM edges e2 JOIN reach r ON e2.dst = r.id),
        |lbl AS (SELECT id, MIN(lab) AS comp FROM reach GROUP BY id),
        |ledger AS (
        |  SELECT em.vec_id, COALESCE(l.comp, em.vec_id) AS comp
        |  FROM embeddings em LEFT JOIN lbl l ON em.vec_id = l.id)
        |SELECT vec_id, comp,
        |  CAST(COUNT(*) OVER (PARTITION BY comp) AS BIGINT) AS comp_size,
        |  vec_id = comp AS is_canonical
        |FROM ledger ORDER BY vec_id""".stripMargin,

    // q100's quantization CTE (ranges over the labeled corpus), then
    // exhaustive integer-L2 top-5 per query + majority vote.
    "q194_knn_classify" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |dims AS (
        |  SELECT i, MIN(v[i]) AS mn, MAX(v[i]) AS mx
        |  FROM e, (SELECT UNNEST(RANGE(1, 65)) AS i)
        |  WHERE vec_id >= 10 GROUP BY i),
        |codes AS (
        |  SELECT e.vec_id, d.i, CASE WHEN d.mx = d.mn THEN 0
        |    ELSE CAST(FLOOR((e.v[d.i] - d.mn) * 254.0 / (d.mx - d.mn) + 0.5) AS BIGINT) END AS code
        |  FROM e, dims d),
        |dist AS (
        |  SELECT q.vec_id AS query_id, b.vec_id AS nn_id,
        |    CAST(SUM((b.code - q.code) * (b.code - q.code)) AS BIGINT) AS qdist
        |  FROM codes b JOIN codes q ON b.i = q.i
        |  WHERE q.vec_id < 10 AND b.vec_id >= 10
        |  GROUP BY 1, 2),
        |top5 AS (SELECT query_id, nn_id FROM (
        |  SELECT query_id, nn_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY qdist, nn_id) AS rn
        |  FROM dist) WHERE rn <= 5),
        |votes AS (
        |  SELECT t.query_id, CAST(e.label AS BIGINT) AS label,
        |    CAST(COUNT(*) AS BIGINT) AS n_votes
        |  FROM top5 t JOIN e ON e.vec_id = t.nn_id GROUP BY 1, 2),
        |pred AS (SELECT query_id, label AS pred_label, n_votes FROM (
        |  SELECT query_id, label, n_votes,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY n_votes DESC, label) AS rn
        |  FROM votes) WHERE rn = 1)
        |SELECT p.query_id, p.pred_label, p.n_votes,
        |  CAST(e.label AS BIGINT) AS true_label
        |FROM pred p JOIN e ON e.vec_id = p.query_id
        |ORDER BY p.query_id""".stripMargin,

    // q194's CTE with the label-mismatch filter and rn = 1.
    "q198_hard_negatives" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |dims AS (
        |  SELECT i, MIN(v[i]) AS mn, MAX(v[i]) AS mx
        |  FROM e, (SELECT UNNEST(RANGE(1, 65)) AS i)
        |  WHERE vec_id >= 10 GROUP BY i),
        |codes AS (
        |  SELECT e.vec_id, e.label, d.i, CASE WHEN d.mx = d.mn THEN 0
        |    ELSE CAST(FLOOR((e.v[d.i] - d.mn) * 254.0 / (d.mx - d.mn) + 0.5) AS BIGINT) END AS code
        |  FROM e, dims d),
        |dist AS (
        |  SELECT q.vec_id AS query_id, CAST(q.label AS BIGINT) AS true_label,
        |    b.vec_id AS nn_id,
        |    CAST(SUM((b.code - q.code) * (b.code - q.code)) AS BIGINT) AS qdist
        |  FROM codes b JOIN codes q ON b.i = q.i
        |  WHERE q.vec_id < 10 AND b.vec_id >= 10 AND b.label <> q.label
        |  GROUP BY 1, 2, 3)
        |SELECT query_id, true_label, nn_id AS neg_id, qdist AS neg_qdist
        |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY qdist, nn_id) AS rn FROM dist)
        |WHERE rn = 1 ORDER BY query_id""".stripMargin,

    // Same CTE with ranges over the WHOLE table, rolled up per
    // (label, dim) cell.
    "q195_label_centroids" ->
      """WITH e AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings),
        |dims AS (
        |  SELECT i, MIN(v[i]) AS mn, MAX(v[i]) AS mx
        |  FROM e, (SELECT UNNEST(RANGE(1, 65)) AS i)
        |  GROUP BY i),
        |codes AS (
        |  SELECT e.label, d.i, CASE WHEN d.mx = d.mn THEN 0
        |    ELSE CAST(FLOOR((e.v[d.i] - d.mn) * 254.0 / (d.mx - d.mn) + 0.5) AS BIGINT) END AS code
        |  FROM e, dims d)
        |SELECT CAST(label AS BIGINT) AS label, CAST(i AS BIGINT) AS dim,
        |  CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(code) AS BIGINT) AS sum_code,
        |  CAST(SUM(code) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mean_code
        |FROM codes GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
  )
}
