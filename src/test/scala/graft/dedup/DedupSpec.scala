package graft.dedup

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark
import graft.text.TextFunctions

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base =
    "the quick brown fox jumps over the lazy dog while the cat watches from the warm windowsill nearby"
  private val nearDup = base.replace("lazy", "sleepy") // 1-token edit
  private val unrelated =
    "completely different content about distributed query engines and columnar storage formats for analytics"

  private def docs = Seq(
    (1L, base), (2L, base), // exact dup pair
    (3L, nearDup),
    (4L, unrelated),
    (5L, "tiny doc") // shorter than shingle width
  ).toDF("doc_id", "text")

  test("exact dedup: identical text collapses, canonical is min id") {
    val flagged = Dedup.withExactDupFlags(docs, col("doc_id"), col("text"))
    assert(flagged.filter(!col("is_canonical")).select("doc_id").collect().map(_.getLong(0)).toSeq == Seq(2L))
    assert(Dedup.dropExactDups(docs, col("doc_id"), col("text")).count() == 4)
  }

  test("minhash LSH: finds exact and near dup, not unrelated") {
    val pairs = Dedup.minhashNearDups(docs, col("doc_id"), col("text"), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(pairs.contains((1L, 3L)) && pairs.contains((2L, 3L)))
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L))
  }

  test("minhash signature: deterministic and length k") {
    val sig = docs.select(TextFunctions.minhashSignature(
      TextFunctions.shingles(col("text"), 3)).as("sig"))
    val rows = sig.collect()
    assert(rows.forall(_.getSeq[Long](0).length == 16))
    val again = sig.collect()
    assert(rows.map(_.getSeq[Long](0)).toSeq == again.map(_.getSeq[Long](0)).toSeq)
  }

  test("simhash: near-dup within small hamming distance, unrelated far") {
    val sigs = docs.select(col("doc_id"), TextFunctions.simhash64(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sigs(1L), sigs(2L)) == 0)
    assert(ham(sigs(1L), sigs(3L)) <= 16)
    assert(ham(sigs(1L), sigs(4L)) > 16)
    val pairs = Dedup.simhashNearDups(docs, col("doc_id"), col("text"), maxHamming = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)) && pairs.contains((1L, 3L)))
  }

  test("ngram jaccard within block: exact scores") {
    val blocked = docs.withColumn("blk", lit("all"))
    val pairs = Dedup.ngramJaccardPairs(blocked, col("doc_id"), col("text"),
        col("blk"), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = pairs.find(p => p._1 == 1L && p._2 == 2L).get
    assert(exact._3 == 1.0)
  }

  test("prefix jaccard join ≡ all-pairs, including near-threshold pairs") {
    // adversarial corpus: exact dups, a 1-token edit, pairs engineered to
    // sit just above and just below tau = 1/2, and shared-prefix decoys
    // that only overlap on COMMON shingles (rarity ordering must still
    // not lose the real pairs)
    val common = "alpha beta gamma delta epsilon zeta eta theta"
    val extra = Seq(
      (10L, s"$common one two three four"),
      (11L, s"$common one two three five"),  // high overlap with 10
      (12L, s"$common nine ten eleven twelve thirteen fourteen fifteen sixteen"),
      (13L, "alpha beta gamma delta unrelated tail of completely different words here")
    ).toDF("doc_id", "text")
    val corpus = docs.union(extra)
    val allPairs = Dedup.ngramJaccardPairs(
        corpus.withColumn("blk", lit("all")), col("doc_id"), col("text"),
        col("blk"), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val prefix = Dedup.prefixJaccardJoin(corpus, col("doc_id"), col("text"),
        tauNum = 1, tauDen = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(prefix == allPairs)
    assert(prefix.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 1.0))
    assert(prefix.exists(p => p._1 == 10L && p._2 == 11L)) // near-threshold survivor
  }

  test("prefix jaccard join: tau = 1 degenerates to exact-duplicate pairs") {
    val pairs = Dedup.prefixJaccardJoin(docs, col("doc_id"), col("text"),
        tauNum = 1, tauDen = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(pairs == Set((1L, 2L, 1.0)))
  }

  test("editDistancePairs ≡ all-pairs brute force, including indel shifts") {
    // adversarial strings: leading insertion (shifts every segment),
    // middle deletion, substitutions at segment boundaries, dist exactly
    // k, dist k+1 (must be excluded), and cross-block decoys
    val names = Seq(
      (1L, "sturdy copper bracket", "X"),
      (2L, "asturdy copper bracket", "X"),  // leading insert, d=1
      (3L, "sturdy coper bracket", "X"),    // middle delete, d=1
      (4L, "sturdy copper brackXY", "X"),   // two subs at the tail, d=2
      (5L, "sturdy copper braZZZt", "X"),   // d=3: excluded at k=2
      (6L, "sturdy copper bracket", "Y"),   // exact text, other block
      (7L, "zz", "X"), (8L, "z", "X")       // tiny strings, d=1
    ).toDF("rid", "nm", "blk")
    val got = Dedup.editDistancePairs(names, col("rid"), col("nm"),
        col("blk"), k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    val rows = names.collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def lev(a: String, b: String): Int = {
      val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
        if (i == 0) j else if (j == 0) i else 0 }
      for (i <- 1 to a.length; j <- 1 to b.length)
        d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
          d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
      d(a.length)(b.length)
    }
    val expected = (for {
      (ia, na, ba) <- rows; (ib, nb, bb) <- rows
      if ia < ib && ba == bb && lev(na, nb) <= 2
    } yield (ia, ib, lev(na, nb).toLong)).toSet
    assert(got == expected)
    assert(got.contains((1L, 2L, 1L)) && got.contains((1L, 4L, 2L)))
    assert(!got.exists(p => p._1 == 1L && p._2 == 5L)) // d=3 out
    assert(!got.exists(p => p._1 == 1L && p._2 == 6L)) // cross-block out
  }

  test("winnowing: shared-paragraph containment detected, unrelated not") {
    val para = "the quick brown fox jumps over the lazy dog near the riverbank every single morning"
    // doc 3 shares no >=16-byte phrase with 1/2 (winnowing correctly
    // flags any such shared run as containment)
    val containment = Seq(
      (1L, para + " with extra trailing words that differ at the end"),
      (2L, "some opening words come before " + para),
      (3L, "columnar storage kernels power vectorized execution inside modern warehouses")).toDF("doc_id", "text")
    val pairs = Dedup.winnowNearDups(containment, col("doc_id"), col("text"), minShared = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("winnowing kernel pins the documented hash family (oracle contract)") {
    // The q57 DuckDB oracle recomputes the kernel from its published
    // definition: base-B Rabin-Karp over UTF-8 bytes in mod-2^64
    // arithmetic, signed Long window minima, m <= w -> global min. Any
    // kernel change that preserves this reference recomputation keeps the
    // oracle green; one that doesn't must fail HERE, not at the driver.
    def reference(text: String, k: Int, w: Int): Set[Long] = {
      val bs = text.getBytes("UTF-8")
      val m64 = BigInt(1) << 64
      if (bs.length < k) return Set.empty
      val hs = bs.sliding(k).map { gram =>
        gram.foldLeft(BigInt(0))((h, b) =>
          (h * graft.functions.WinnowUtil.B + (b & 0xff)).mod(m64)).toLong
      }.toVector
      if (hs.length <= w) Set(hs.min)
      else hs.sliding(w).map(_.min).toSet
    }
    val texts = Seq(
      "short",                                  // < k bytes: empty
      "exactly sixteen!",                       // one position: global min
      ("spark rules " * 30).trim,               // repetitive
      "unicode mixté — 漢字 bytes exercise the rolling subtraction path",
      "a somewhat longer document with many positions to winnow over and sample from")
    import graft.functions.WinnowFingerprints.winnow_fingerprints
    val got = texts.toDF("text")
      .select(winnow_fingerprints(col("text"), 16, 8).as("f"))
      .collect().map(_.getSeq[Long](0).toSet)
    texts.zip(got).foreach { case (t, g) =>
      assert(g == reference(t, 16, 8), s"hash-family drift on: $t")
    }
  }

  test("winnowing guarantee: identical text -> identical fingerprint sets") {
    import graft.functions.WinnowFingerprints.winnow_fingerprints
    val fps = Seq(base, base).toDF("text")
      .select(winnow_fingerprints(col("text")).as("f")).collect()
    assert(fps(0).getSeq[Long](0) == fps(1).getSeq[Long](0))
    assert(fps(0).getSeq[Long](0).nonEmpty)
  }

  test("winnowing: repeated fingerprints in one doc don't fake minShared") {
    // doc 21 is highly repetitive (same fingerprint at many positions);
    // doc 22 shares exactly one phrase occurrence — a multiplicity-counted
    // join would report them at minShared=2 off a single distinct match
    val rep = ("spark rules " * 30).trim
    val docs2 = Seq(
      (21L, rep),
      (22L, "unrelated prefix text then spark rules spark rules and nothing else after")).toDF("doc_id", "text")
    val pairs = Dedup.winnowNearDups(docs2, col("doc_id"), col("text"), minShared = 2)
      .collect()
    // shared distinct fingerprints decide; result must be stable and based
    // on distinct counts (either 0 or a genuine >=2 distinct overlap)
    val shared = pairs.find(r => r.getLong(0) == 21L && r.getLong(1) == 22L)
      .map(_.getLong(2))
    assert(shared.forall(_ >= 2))
  }

  test("components: chain, clique, disjoint — min label wins") {
    // 1-2-3-4 is a diameter-3 chain (multi-round propagation); 10/11/12
    // a clique; the two must not merge
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L)).toDF("a", "b")
    val got = Dedup.components(edges, col("a"), col("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L))
  }

  test("componentsStars ≡ components on random graphs and a long chain") {
    val rnd = new scala.util.Random(11)
    // random graphs: both algorithms, identical labelings
    for (trial <- 1 to 3) {
      val n = 20
      val es = Seq.fill(24)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val a = Dedup.components(es.toDF("a", "b"), col("a"), col("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val b = Dedup.componentsStars(es.toDF("a", "b"), col("a"), col("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(a == b, s"trial $trial, edges $es")
    }
    // the diameter adversary: a 48-vertex chain with shuffled ids —
    // min-label needs ~diameter rounds, the star rewrite converges
    // logarithmically, and the labels must still agree exactly
    val ids = rnd.shuffle((100L to 147L).toList)
    val chain = ids.zip(ids.tail)
    val minId = ids.min
    val got = Dedup.componentsStars(chain.toDF("a", "b"), col("a"), col("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == ids.map(_ -> minId).toMap)
    assert(got == Dedup.components(chain.toDF("a", "b"), col("a"), col("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
  }

  test("containment: quoted subset detected with direction; jaccard would miss it") {
    val quote = "alpha beta gamma delta epsilon"     // 3 trigrams
    val docs = Seq(
      (1L, s"intro words here $quote closing words trailing tokens", "s"),
      (2L, quote, "s"),                              // fully inside doc 1
      (3L, "unrelated content entirely different words", "s"),
      // identical shingle sets in different docs -> same_size tie
      (10L, "p q r s", "t"),
      (11L, "p q r s", "t")
    ).toDF("doc_id", "text", "source")
    val got = Dedup.containmentPairs(docs, col("doc_id"), col("text"),
        col("source"), threshold = 0.9)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getDouble(5), r.getString(6)))).toMap
    // doc 2's 3 trigrams all appear in doc 1 -> containment 1.0, b inside a
    assert(got((1L, 2L)) == ((3L, 1.0, "b_in_a")))
    assert(got((10L, 11L)) == ((2L, 1.0, "same_size")))
    assert(got.keySet == Set((1L, 2L), (10L, 11L)))
    // the same quoted pair is INVISIBLE to jaccard at any useful threshold:
    // 3 shared of 10 union trigrams
    val jac = Dedup.ngramJaccardPairs(docs, col("doc_id"), col("text"),
        col("source"), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jac.contains((1L, 2L)))
  }

  test("componentsStars: empty input and pure self-loops yield no rows") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.componentsStars(empty, col("a"), col("b")).count() == 0L)
    // pure self-loops carry no connectivity — and no vertices survive
    val selfs = Seq((3L, 3L), (4L, 4L)).toDF("a", "b")
    assert(Dedup.componentsStars(selfs, col("a"), col("b")).count() == 0L)
  }

  test("components: random edge sets match a local union-find") {
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val n = 24
      val es = Seq.fill(28)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int =
        if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
      es.foreach { case (x, y) =>
        val (fx, fy) = (find(x.toInt), find(y.toInt))
        if (fx != fy) parent(math.max(fx, fy)) = math.min(fx, fy)
      }
      val verts = es.flatMap(e => Seq(e._1, e._2)).distinct
      val expected = verts.groupBy(v => find(v.toInt)).values
        .flatMap(c => { val m = c.min; c.map(_ -> m) }).toMap
      val got = Dedup.components(es.toDF("a", "b"), col("a"), col("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == expected, s"trial $trial, edges $es")
    }
  }

  test("componentsIncremental ≡ full recompute on random splits") {
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 3) {
      val n = 24
      val es = Seq.fill(30)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2).distinct
      val cut = 4 + rnd.nextInt(16) // delta vertices: id >= cut
      val baseEdges = es.filter(e => e._1 < cut && e._2 < cut)
      // delta edges = every edge touching a new vertex (merging old
      // components through a new vertex is the hard case)
      val deltaEdges = es.filter(e => e._1 >= cut || e._2 >= cut)
      val ids = (0L until n.toLong).toDF("id")
      val baseLabels = Dedup.components(
        baseEdges.toDF("a", "b"), col("a"), col("b"))
      val inc = Dedup.componentsIncremental(baseLabels, ids, col("id"),
          deltaEdges.toDF("a", "b"), col("a"), col("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val fullLbl = Dedup.components(es.toDF("a", "b"), col("a"), col("b"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val full = (0L until n.toLong).map(v => v -> fullLbl.getOrElse(v, v)).toMap
      assert(inc == full, s"trial $trial cut $cut edges $es")
    }
  }

  test("componentsIncremental with no delta edges returns the base " +
      "labeling exactly") {
    val baseLabels = Seq((1L, 1L), (2L, 1L), (3L, 3L), (5L, 3L), (7L, 7L))
      .toDF("id", "comp")
    // 9 is a new vertex (labels itself); 7 is labeled but absent from ids
    val ids = Seq(1L, 2L, 3L, 5L, 9L).toDF("id")
    val noEdges = Seq.empty[(Long, Long)].toDF("a", "b")
    val inc = Dedup.componentsIncremental(baseLabels, ids, col("id"),
      noEdges, col("a"), col("b"))
    assert(inc.columns.toSeq == Seq("id", "comp"))
    assert(inc.as[(Long, Long)].collect().sorted.toSeq ==
      Seq((1L, 1L), (2L, 1L), (3L, 3L), (5L, 3L), (9L, 9L)))
    // an edge inside one component contracts to a self-loop and is
    // dropped too: still the base labeling
    val inside = Dedup.componentsIncremental(baseLabels, ids, col("id"),
      Seq((2L, 1L)).toDF("a", "b"), col("a"), col("b"))
    assert(inside.as[(Long, Long)].collect().sorted.toSeq ==
      inc.as[(Long, Long)].collect().sorted.toSeq)
  }

  test("minhashNearDupsDelta: exactly the full pair set that touches a new doc") {
    val corpus = docs // ids 1..5; mark 3..5 as the delta
    val flagged = corpus.withColumn("is_new", col("doc_id") >= 3L)
    val delta = Dedup.minhashNearDupsDelta(flagged, col("doc_id"), col("text"),
        col("is_new"), threshold = 0.5, bands = 16, maxBucketSize = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val full = Dedup.minhashNearDups(corpus, col("doc_id"), col("text"),
        threshold = 0.5, bands = 16, maxBucketSize = 1000000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(delta == full.filter(p => p._1 >= 3L || p._2 >= 3L))
    assert(delta.exists(p => p._1 == 1L && p._2 == 3L)) // old-new near-dup pair
    assert(!delta.exists(p => p._1 == 1L && p._2 == 2L)) // old-old excluded
  }

  test("minhashNearDupsDeltaFromSigs ≡ the in-place delta (maintained store path)") {
    val corpus = docs // ids 1..5; mark 3..5 as the delta
    // the maintained signature store: built slice-by-slice, as a
    // production ledger would persist it at the previous refresh
    val oldSigs = Dedup.minhashSigSets(
      corpus.filter(col("doc_id") < 3L), col("doc_id"), col("text"))
    val newSigs = Dedup.minhashSigSets(
      corpus.filter(col("doc_id") >= 3L), col("doc_id"), col("text"))
    val fromStore = Dedup.minhashNearDupsDeltaFromSigs(oldSigs, newSigs,
        threshold = 0.5, bands = 16, maxBucketSize = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inPlace = Dedup.minhashNearDupsDelta(
        corpus.withColumn("is_new", col("doc_id") >= 3L),
        col("doc_id"), col("text"), col("is_new"),
        threshold = 0.5, bands = 16, maxBucketSize = Int.MaxValue)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fromStore == inPlace)
    assert(fromStore.nonEmpty)
  }

  test("components: idempotent — relabeling the labeled graph is a fixpoint") {
    val edges = Seq((5L, 9L), (9L, 2L), (7L, 8L)).toDF("a", "b")
    val first = Dedup.components(edges, col("a"), col("b"))
    val firstMap = first.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // feed (id, comp) assignments back in as edges: labels must not move
    val again = Dedup.components(first, col("id"), col("comp"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    firstMap.foreach { case (id, comp) => assert(again(id) == comp) }
    assert(firstMap == Map(5L -> 2L, 9L -> 2L, 2L -> 2L, 7L -> 7L, 8L -> 7L))
  }

  test("components: checkpoint interval exercises the lineage cut") {
    // interval 1 checkpoints every round; result identical to default
    val edges = Seq((1L, 2L), (2L, 3L)).toDF("a", "b")
    val got = Dedup.components(edges, col("a"), col("b"), checkpointInterval = 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
    intercept[IllegalArgumentException] {
      Dedup.components(edges, col("a"), col("b"), checkpointInterval = 0)
    }
  }

  test("invalid LSH banding is rejected loudly") {
    intercept[IllegalArgumentException] {
      Dedup.minhashCandidates(docs, col("doc_id"), col("text"), k = 16, bands = 20)
    }
    intercept[IllegalArgumentException] {
      Dedup.minhashNearDups(docs, col("doc_id"), col("text"), 0.5, k = 16, bands = 5)
    }
  }

  test("degenerate buckets are capped (no quadratic blowup)") {
    val many = (1L to 300L).map(i => (i, base)).toDF("doc_id", "text")
    // all 300 docs identical -> one bucket of 300 > cap 100 -> dropped
    val pairs = Dedup.minhashCandidates(many, col("doc_id"), col("text"),
      maxBucketSize = 100)
    assert(pairs.count() == 0)
  }

  // ---- repeated spans (substring-level dedup) ----

  private def spanDocs = Seq(
    (1L, "alpha beta gamma delta epsilon zeta unique1 unique2"),
    (2L, "prefix alpha beta gamma delta epsilon zeta suffix"),
    // within-doc-only repetition: "x y z" twice in the SAME doc only
    (3L, "x y z x y z"),
    // two disjoint shared passages in one doc
    (4L, "alpha beta gamma filler1 filler2 delta epsilon zeta"),
    (5L, "ab") // shorter than the window
  ).toDF("doc_id", "text")

  private def spans(hashKeys: Boolean) =
    Dedup.repeatedSpans(spanDocs, col("doc_id"), col("text"), n = 3,
        hashKeys = hashKeys)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet

  test("repeated spans: maximal cross-doc spans, islands merged") {
    val got = spans(hashKeys = false)
    // doc1 shares "alpha beta gamma" (with 2 and 4) and "delta epsilon
    // zeta" (with 2 and 4); in doc1/doc2 the two runs are ADJACENT, so the
    // island merge yields one maximal 6-token span.
    assert(got.contains((1L, 0L, 5L, 6L)))
    assert(got.contains((2L, 1L, 6L, 6L)))
    // doc4 holds them disjointly -> two separate 3-token spans
    assert(got.contains((4L, 0L, 2L, 3L)))
    assert(got.contains((4L, 5L, 7L, 3L)))
    // within-doc-only repetition (doc3) and short docs (doc5) emit nothing
    assert(!got.exists(s => s._1 == 3L || s._1 == 5L))
  }

  test("repeated spans: hashed keys produce identical spans") {
    assert(spans(hashKeys = true) == spans(hashKeys = false))
  }

  private def shared(hashKeys: Boolean, maxOcc: Int = 1000000) =
    Dedup.sharedSpans(spanDocs, col("doc_id"), col("text"), n = 3,
        maxOccurrences = maxOcc, hashKeys = hashKeys)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSet

  test("shared spans: per-pair aligned maximal substrings with both offsets") {
    val got = shared(hashKeys = false)
    // doc1/doc2 share the contiguous 6-token run; offsets differ (doc2
    // has a 1-token prefix) — exactly one maximal span on that diagonal
    assert(got.contains((1L, 2L, 0L, 1L, 6L)))
    // doc1/doc4 share the two passages DISJOINTLY (doc4 splits them), so
    // the pair yields two 3-token spans on two diagonals — the case
    // repeatedSpans cannot distinguish from one long shared run
    assert(got.contains((1L, 4L, 0L, 0L, 3L)))
    assert(got.contains((1L, 4L, 3L, 5L, 3L)))
    // within-doc-only repetition (doc3) pairs with nothing
    assert(!got.exists(s => s._1 == 3L || s._2 == 3L))
  }

  test("shared spans: hashed keys ≡ string keys; stop-window cap drops hubs") {
    assert(shared(hashKeys = true) == shared(hashKeys = false))
    // "alpha beta gamma" occurs in docs 1, 2, 4 (df = 3): capping at 2
    // removes every span built on it, keeping rarer diagonals only
    val capped = shared(hashKeys = true, maxOcc = 2)
    assert(!capped.exists(s => s._3 == 0L && s._1 == 1L && s._2 == 2L && s._5 == 6L))
  }

  test("leakage-safe split: a dup component never straddles splits where the naive doc-id split does") {
    // one 40-copy near-dup component spread over scattered ids, plus
    // isolated docs — the q205 law: split = hash(comp), not hash(doc_id)
    val ids = (0 until 40).map(i => i * 37L + 5L)
    val corpus = (ids.map(id => (id, base)) ++
      Seq((2000L, unrelated), (3000L, "tiny doc"))).toDF("doc_id", "text")
    val pairs = Dedup.minhashNearDups(corpus, col("doc_id"), col("text"),
      threshold = 0.5, bands = 16, maxBucketSize = 1000000)
    val lbl = Dedup.components(pairs, col("a_id"), col("b_id"))
    val ledger = corpus
      .join(lbl.select(col("id").as("doc_id"), col("comp")), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"))
    def band(c: org.apache.spark.sql.Column) =
      pmod(TextFunctions.portableHash48(c.cast("string")), lit(100L))
    def toSplit(b: org.apache.spark.sql.Column) =
      when(b < 90, "train").when(b < 95, "val").otherwise("test")
    val assigned = ledger.select(col("doc_id"), col("comp"),
      toSplit(band(col("comp"))).as("safe"), toSplit(band(col("doc_id"))).as("naive"))
    // the whole dup component got ONE safe split...
    val safeSplits = assigned.filter(col("comp") === ids.min)
      .select("safe").distinct().collect()
    assert(safeSplits.length == 1)
    // ...while the naive per-doc hash provably scatters it (40 ids across
    // a 90/5/5 split: all-same-band probability < 0.9^39)
    val naiveSplits = assigned.filter(col("comp") === ids.min)
      .select("naive").distinct().collect()
    assert(naiveSplits.length > 1, "fixture ids all hashed to one band; pick different ids")
    // isolated docs are their own component and still get assigned
    assert(assigned.filter(col("doc_id") === 2000L).count() == 1)
  }

  test("lsh delta pairs touch only new vectors; base pairs ∪ delta ≡ full recompute") {
    val embs = graft.util.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val baseE = embs.filter(col("vec_id") % 5 =!= 0)
    val deltaE = embs.filter(col("vec_id") % 5 === 0)
    def pset(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = pset(Dedup.lshNearDups(embs, col("vec_id"), col("embedding"),
      4, 4, 64, 0.25))
    val basePairs = pset(Dedup.lshNearDups(baseE, col("vec_id"), col("embedding"),
      4, 4, 64, 0.25))
    val delta = pset(Dedup.lshNearDupsDelta(baseE, deltaE,
      col("vec_id"), col("embedding"), 4, 4, 64, 0.25))
    val newIds = deltaE.select(col("vec_id")).collect().map(_.getLong(0)).toSet
    // every delta pair involves at least one newly-ingested vector
    assert(delta.forall { case (a, b) => newIds(a) || newIds(b) })
    // and the maintenance invariant: stored ledger + delta = full rebuild
    assert((basePairs ++ delta) == full)
    assert(delta.nonEmpty && basePairs.nonEmpty)
  }

  test("edit-distance delta pairs touch only new records; base ∪ delta " +
      "≡ full recompute (one probe role suffices)") {
    val p = graft.util.Tables.part(spark, "/root/testdata/sf0.001")
    val base = p.filter(col("p_partkey") % 5 =!= 0)
    val delta = p.filter(col("p_partkey") % 5 === 0)
    def pset(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4))).toSet
    val full = pset(Dedup.editDistancePairs(p, col("p_partkey"),
      col("p_name"), col("p_brand"), k = 2))
    val basePairs = pset(Dedup.editDistancePairs(base, col("p_partkey"),
      col("p_name"), col("p_brand"), k = 2))
    val dp = pset(Dedup.editDistancePairsDelta(base, delta,
      col("p_partkey"), col("p_name"), col("p_brand"), k = 2))
    val newIds = delta.select(col("p_partkey")).collect()
      .map(_.getLong(0)).toSet
    assert(dp.forall { case (a, b, _) => newIds(a) || newIds(b) },
      "delta pairs must all touch a new record — no old×old leakage")
    assert((basePairs ++ dp) == full,
      s"missing=${(full -- basePairs -- dp).take(5)} " +
        s"extra=${((basePairs ++ dp) -- full).take(5)}")
    assert(dp.nonEmpty && basePairs.nonEmpty)
  }
}
