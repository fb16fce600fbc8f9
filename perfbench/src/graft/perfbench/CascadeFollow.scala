package graft.perfbench

import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.ann.{IndexStore, Similarity}
import graft.cdc.Apply
import graft.dedup.LedgerStore
import graft.text.PostingsStore
import graft.util.{Cascade, PipelineLedger}

/** `cascade`: the SQL path into the warehouse, then follower stores. A
  * small merge table of text documents with embeddings, created and
  * loaded through `GraftCatalog` (CREATE TABLE + INSERT INTO); set-up
  * hydrates a dedup ledger, a BM25 postings store and a persisted IVF
  * index from the commit-1 snapshot. Each cycle issues one MERGE INTO
  * of 100 changes (90 matched updates, 10 matched deletes), then runs
  * `Cascade.followMergeTableAll(…, sinceCommit = 1)` over the three
  * stores as a scheduled loader (start from its checkpoint, drain,
  * stop), then queries the pinned set: one BM25 query and one IVF
  * probe. `read_p50_s` times the BM25 query only; the IVF probe is
  * `query.ivf_s` in the traced run. */
final class CascadeFollow(c: Ctx) extends Loop(c) {

  val nDocs = 500
  val tokens = 40
  val vocab = 3000
  val dim = 32
  val batchSize = 100
  private val words = new Zipf(vocab, 1.1)
  // a window costs ~8 s of per-job fixed cost whatever the table size,
  // so a run affords two timed windows and no warm-up cycle: the first
  // window is the loader's first run after hydration
  override def warmCycles: Int = 0
  override def minCycles: Int = 2

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("emb", ArrayType(FloatType))))

  final class St(val dir: String) {
    val table = s"$dir/table"
    val t = s"graft_cat.`$table`.merge"
    val rng = new SplittableRandom(ctx.seed)
    val live = new LiveKeys
    /** The reference: each live doc's (text, embedding, `_version`). */
    val ref = mutable.LongMap[(String, Seq[Float], Long)]()
    var commit = 0L
    var window = -1L // follower batch id of the last window
    /** Traced run: (statement group, issued ms, committed ms, set-committed ms, follower runId, follower start ms). */
    val windows = mutable.ArrayBuffer[(String, Long, Long, Long, String, Long)]()
    val folds = mutable.ArrayBuffer[(String, Long, Double)]() // (store, batch, seconds)
    var loadS = 0.0 // the set-up's INSERT INTO
  }
  type State = St

  private def doc(k: Long, rng: SplittableRandom): Row = Row(k,
    Seq.fill(tokens)(s"w${words.sample(rng)}").mkString(" "),
    Seq.fill(dim)((rng.nextDouble() * 2 - 1).toFloat))

  /** Bytes of one change as a staged NDJSON envelope (write_amp's base). */
  private def envelopeBytes(k: Long, d: Option[Row]): Long = {
    val after = d.map(r => s"""{"doc_id":$k,"text":"${r.getString(1)}","emb":""" +
      r.getSeq[Float](2).mkString("[", ",", "]") + "}").getOrElse("null")
    s"""{"op":"${if (d.isEmpty) "REMOVE" else "MODIFY"}","key":$k,"after":$after}""".length + 1L
  }

  private def view(name: String, schema: StructType, rows: Seq[Row]): Unit = {
    import scala.jdk.CollectionConverters._
    ctx.spark.createDataFrame(rows.asJava, schema).createOrReplaceTempView(name)
  }

  private def ledgerDir(s: State) = s"${s.dir}/ledger"
  private def postingsDir(s: State) = s"${s.dir}/postings"
  private def indexDir(s: State) = s"${s.dir}/index"

  /** The three set members; each fold is wrapped to time it. */
  private def stores(s: State): Seq[PipelineLedger.Store] = Seq(
    Cascade.ledgerFollower("ledger", ledgerDir(s), col("text")),
    Cascade.postingsFollower("postings", postingsDir(s), col("text")),
    Cascade.ivfFollower("index", indexDir(s), col("emb"))).map { st =>
    st.copy(fold = (df: DataFrame, bid: Long) => {
      val t = System.nanoTime()
      ctx.trace.fold(st.fold(df, bid))(_.span(s"fold:${st.name}", bid)(st.fold(df, bid)))
      if (timed) s.folds.synchronized(s.folds += ((st.name, bid, (System.nanoTime() - t) / 1e9)))
    })
  }

  def setup(dir: String): State = {
    val s = new St(dir)
    val spark = ctx.spark
    view("perfbench_cascade_load", docSchema,
      (0L until nDocs).map { k =>
        val d = doc(k, s.rng)
        s.live.add(k); s.ref(k) = (d.getString(1), d.getSeq[Float](2), 1L)
        d
      })
    spark.sql(s"CREATE TABLE ${s.t} (doc_id BIGINT, text STRING, " +
      "emb ARRAY<FLOAT>, _version BIGINT) TBLPROPERTIES (key_col 'doc_id')")
    val t0 = System.nanoTime()
    ctx.span("sql-insert")(spark.sql(s"INSERT INTO ${s.t} " +
      "SELECT doc_id, text, emb, CAST(1 AS BIGINT) FROM perfbench_cascade_load"))
    s.loadS = (System.nanoTime() - t0) / 1e9
    s.commit = 1L // CREATE TABLE is commit 0, the load commit 1
    ctx.ops.check(Apply.currentCommit(spark, s.table) == 1L, "cascade load is commit 1")
    // hydrate every store from the commit-1 snapshot, concurrently (the
    // stores are independent, as in the follower's own fold pool)
    val snap = Apply.readMergeTableAt(spark, s.table, 1L).cache()
    val parent = ctx.trace.flatMap(_.currentSpan)
    def hydrate(name: String)(body: => Unit): () => Unit = () =>
      ctx.trace.fold(body)(_.span(s"hydrate:$name", -1L, parent)(body))
    graft.util.Par.all(Seq(
      hydrate("ledger")(LedgerStore.maintainBatch(snap, col("doc_id"),
        col("text"), ledgerDir(s))),
      hydrate("postings")(PostingsStore.maintainBatch(snap, col("doc_id"),
        col("text"), postingsDir(s))),
      hydrate("index")(IndexStore.saveIvf(Similarity.buildIvf(snap,
        col("doc_id"), col("emb"), nCentroids = 8, materialize = true),
        indexDir(s)))))
    snap.unpersist()
    s
  }

  def close(s: State): Unit = ()

  def dataDirs(s: State): Seq[String] =
    Seq(s.table, ledgerDir(s), postingsDir(s), indexDir(s), s"${s.dir}/set")

  /** Generate one batch (90 updates, 10 deletes of live docs) as the
    * MERGE source view, applying it to the reference; returns each
    * change's key and new row. */
  private def stageBatch(s: State): Seq[(Long, Option[Row])] = {
    val picks = Gen.shuffle(s.rng, (0 until s.live.size).map(s.live(_)))
      .take(batchSize)
    val removed = picks.take(batchSize / 10).toSet
    val changes = picks.map(k => k -> (if (removed(k)) None else Some(doc(k, s.rng))))
    view("perfbench_cascade_src", docSchema.add("del", BooleanType),
      changes.map { case (k, d) => d.fold(Row(k, null, null, true))(r =>
        Row(k, r.getString(1), r.getSeq[Float](2), false)) })
    changes.foreach {
      case (k, Some(r)) => s.ref(k) = (r.getString(1), r.getSeq[Float](2), s.ref(k)._3 + 1)
      case (k, None) => s.live.remove(k); s.ref.remove(k)
    }
    changes
  }

  private def mergeSql(s: State): String =
    s"""MERGE INTO ${s.t} AS t USING perfbench_cascade_src AS s ON t.doc_id = s.doc_id
       |WHEN MATCHED AND s.del THEN DELETE
       |WHEN MATCHED THEN UPDATE SET text = s.text, emb = s.emb,
       |  _version = t._version + 1""".stripMargin

  def cycle(s: State, i: Int): Unit = {
    val spark = ctx.spark
    val changes = stageBatch(s)
    val issuedMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val stmt = ctx.ops.run("statement", "commit")(ctx.op("sql-merge", i)(spark.sql(mergeSql(s))))
    val committedMs = System.currentTimeMillis()
    s.commit += 1
    // the scheduled loader: start from the checkpoint, drain, stop
    var runId = ""
    val startMs = System.currentTimeMillis()
    val window = ctx.ops.run("follower window")(ctx.span("follower", i) {
      val f = Cascade.followMergeTableAll(spark, s.table, s"${s.dir}/set",
        s"${s.dir}/follow-ck", stores(s), sinceCommit = 1L)
      runId = f.runId.toString
      try f.processAllAvailable() finally f.stop()
    })
    val setMs = System.currentTimeMillis()
    ctx.ops.record("follower", if (stmt.isDefined && window.isDefined)
      (System.nanoTime() - t0) / 1e9 else Double.PositiveInfinity)
    s.window += 1
    if (window.isDefined) checkSet(s)
    // query the pinned set: BM25 over the postings, an IVF probe
    val set = PipelineLedger.readSet(spark, s"${s.dir}/set")
    val terms = Seq.fill(3)(s"w${words.sample(s.rng)}")
    val qv = Seq.fill(dim)((s.rng.nextDouble() * 2 - 1).toFloat)
    val tb = System.nanoTime()
    val bm25 = ctx.ops.run("read", "read")(ctx.op("bm25", i) {
      PostingsStore.bm25QueryAt(spark, postingsDir(s), set.stores("postings"), terms, 10)
        .select(col("id")).collect().map(_.getLong(0))
    })
    val ti = System.nanoTime()
    val ivf = ctx.ops.run("read")(ctx.op("ivf", i) {
      val (idx, _) = IndexStore.loadIvfAt(spark, indexDir(s), set.stores("index"))
      val qdf = spark.range(1).select(lit(qv.toArray).as("q"))
      IndexStore.searchPruned(idx, qdf, 10).collect().map(_.getLong(0))
    })
    val tEnd = System.nanoTime()
    bm25.foreach { case (ids, _) => ctx.ops.check(ids.length <= 10 && ids.forall(s.live.contains),
      s"cascade bm25 returned a removed or extra doc: ${ids.mkString(",")}") }
    ivf.foreach { case (ids, _) => ctx.ops.check(ids.length == 10 && ids.forall(s.live.contains),
      s"cascade ivf probe returned ${ids.length} rows or a removed doc") }
    if (timed) {
      changeRows += batchSize
      inputBytes += changes.map { case (k, d) => envelopeBytes(k, d) }.sum
      if (ctx.trace.isDefined) {
        stmt.foreach { case (_, g) =>
          s.windows += ((g, issuedMs, committedMs, setMs, runId, startMs)) }
        ctx.layer("query.bm25_s", (ti - tb) / 1e9)
        ctx.layer("query.ivf_s", (tEnd - ti) / 1e9)
        Seq(bm25.map(_._2), ivf.map(_._2)).flatten.foreach { g =>
          val j = ctx.jobsOf(g)
          ctx.layer("query.jobs", j.n)
          ctx.layer("query.task_s", j.taskS)
          ctx.layer("query.input_bytes", j.inputBytes)
        }
      }
    }
  }

  /** The set pins each store at this window's batch-exact commit, and
    * the postings and index hold exactly the live documents. */
  private def checkSet(s: State): Unit = {
    val spark = ctx.spark
    val set = PipelineLedger.readSet(spark, s"${s.dir}/set")
    ctx.ops.check(set.batch == s.window,
      s"cascade: set pins batch ${set.batch}, expected ${s.window}")
    ctx.ops.check(set.stores == Map(
      "ledger" -> LedgerStore.commitForBatch(spark, ledgerDir(s), set.batch),
      "postings" -> PostingsStore.commitForBatch(spark, postingsDir(s), set.batch),
      "index" -> IndexStore.commitForBatch(spark, indexDir(s), set.batch)),
      s"cascade: set ${set.stores} does not pin each store's batch-${set.batch} commit")
    val pm = PostingsStore.metaAt(spark, postingsDir(s), set.stores("postings"))
    val im = IndexStore.metaAt(spark, indexDir(s), set.stores("index"))
    ctx.ops.check(pm.nDocs == s.live.size && im.rows == s.live.size,
      s"cascade: postings ${pm.nDocs} / index ${im.rows} docs, ${s.live.size} live")
  }

  override def postTrace(s: State): Unit = {
    val t = ctx.trace.get
    ctx.layer("sql.insert_s", s.loadS)
    s.windows.zipWithIndex.foreach { case ((g, issuedMs, committedMs, setMs, runId, startMs), k) =>
      statementLayers("merge", g, issuedMs, committedMs)
      val bid = s.window - s.windows.size + 1 + k
      val folds = s.folds.filter(_._2 == bid)
      t.progressOf(runId).filter(_.rows > 0).headOption.foreach { p =>
        ctx.layer("cascade.start_s", (p.startMs - startMs) / 1000.0)
        ctx.layer("cascade.window_s", p.addBatchMs / 1000.0)
        if (folds.nonEmpty)
          ctx.layer("cascade.set_commit_s", p.addBatchMs / 1000.0 - folds.map(_._3).max)
      }
      val js = t.jobsWhere(_.group == runId)
      val all = Trace.rollup(js)
      ctx.layer("cascade.jobs", all.n)
      ctx.layer("cascade.task_s", all.taskS)
      folds.foreach { case (name, _, secs) =>
        ctx.layer(s"$name.fold_s", secs)
        val fj = Trace.rollup(js.filter(_.desc == s"pipeline fold: $name"))
        ctx.layer(s"$name.jobs", fj.n)
        ctx.layer(s"$name.task_s", fj.taskS)
      }
      ctx.layer("spark.between_jobs_s", t.uncoveredSeconds(issuedMs, setMs))
    }
  }

  /** The table holds exactly the reference's rows: the MERGE's updates
    * (text, embedding, advanced `_version`) and deletes all landed. */
  def finalCheck(s: State): Boolean = {
    val spark = ctx.spark
    ctx.ops.check(Apply.currentCommit(spark, s.table) == s.commit,
      s"cascade: manifest commit != ${s.commit}")
    val got = Apply.readMergeTable(spark, s.table)
      .select(col("doc_id"), col("text"), col("emb"), col("_version")).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getSeq[Float](2).toSeq, r.getLong(3))))
    val byKey = got.toMap
    ctx.ops.check(got.length == byKey.size, "cascade: duplicate keys in the table") &&
    ctx.ops.check(byKey.size == s.ref.size,
      s"cascade: table holds ${byKey.size} docs, reference ${s.ref.size}") &&
    ctx.ops.check(s.ref.forall { case (k, v) => byKey.get(k).contains(v) },
      "cascade: table rows differ from the reference (text, emb or _version)") &&
    ctx.ops.correct
  }
}
