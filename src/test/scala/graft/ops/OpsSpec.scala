package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Library-level specs for the dedup / similarity operators with planted
  * duplicates and known-geometry vectors (the oracle gate covers the
  * synthetic-table scale; these pin the semantics).
  */
class OpsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    // near dup of 1: a pure suffix edit keeps ~90% of shingles shared, so
    // every reasonable LSH family catches the pair (a mid-string edit at
    // jaccard ~0.6 is a legitimate ~15% LSH miss at k=8, r=2 — too
    // coin-flippy to pin in a spec)
    (3L, "the quick brown fox jumps over the lazy dogs"),
    (4L, "completely different content about spark engines"))
    .toDF("doc_id", "text")

  test("exactGroups: identical texts collapse, survivor is min id") {
    val g = Dedup.exactGroups(docs, "doc_id", "text").collect()
    assert(g.length === 3)
    val dup = g.find(_.getAs[Long]("n_docs") == 2).get
    assert(dup.getAs[Long]("keep_id") === 1L)
  }

  test("minhash LSH: exact dups collide in every band, unrelated docs never") {
    val sh = Dedup.shingleSet(docs, "doc_id", "text", 8)
    val sig = Dedup.minhashSignature(sh, "doc_id", 8)
    val cand = Dedup.candidatePairs(Dedup.lshBands(sig, "doc_id", 8, 2), "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cand.contains((1L, 2L)))
    assert(!cand.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("minhash_mixes equals the declarative md5-prefix mix formula exactly") {
    import spark.implicits._
    import graft.functions.Minhash.{P, a, b, c}
    val rnd = new scala.util.Random(11)
    val strs = Seq.tabulate(200)(_ => rnd.alphanumeric.take(rnd.nextInt(12) + 1).mkString)
      .toDF("sh")
    // same formula the DuckDB oracle runs, spelled in Spark builtins —
    // decimal(38,0) stands in for the oracle's HUGEINT (the ~122-bit
    // products exceed long; 38 digits hold them exactly)
    def base(from: Int) =
      conv(substring(md5(col("sh")), from, 15), 16, 10).cast("decimal(38,0)")
    val (h1, h2) = (base(1), base(16))
    val diff = strs.select(
      graft.functions.GraftFunctions.minhash_mixes(col("sh"), 8).as("fused"),
      array((0 until 8).map(i =>
        ((lit(a(i)).cast("decimal(38,0)") * h1 + lit(b(i)).cast("decimal(38,0)") * h2
          + lit(c(i))) % lit(P)).cast("long")): _*)
        .as("ref"))
      .where(not(col("fused") === col("ref")))
      .count()
    assert(diff === 0)
  }

  test("minhashSignatureDirect equals the via-shingleSet signature exactly") {
    val viaSet = Dedup.minhashSignature(
      Dedup.shingleSet(docs, "doc_id", "text", 8), "doc_id", 8)
    val direct = Dedup.minhashSignatureDirect(docs, "doc_id", "text", 8, 8)
    assert(direct.exceptAll(viaSet).count() === 0)
    assert(viaSet.exceptAll(direct).count() === 0)
  }

  test("candidatePairs maxBucket chains boilerplate buckets, keeps small ones") {
    import spark.implicits._
    // 12 identical docs (one giant bucket) + one small dup pair
    val many = ((1 to 12).map(i => (i.toLong, "the same boilerplate text repeated here")) ++
      Seq((100L, "a unique snowflake document xyz"), (101L, "a unique snowflake document xyz")))
      .toDF("doc_id", "text")
    val sh = Dedup.shingleSet(many, "doc_id", "text", 8)
    val bands = Dedup.lshBands(Dedup.minhashSignature(sh, "doc_id", 8), "doc_id", 8, 2)
    val uncapped = Dedup.candidatePairs(bands, "doc_id").count()
    val capped = Dedup.candidatePairs(bands, "doc_id", maxBucket = Some(5))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(uncapped === 12 * 11 / 2 + 1) // quadratic bucket + the pair
    // quadratic blowup gone, but the identical-doc cluster stays
    // CONNECTED via the consecutive chain (it collides in every band, so
    // a flat drop would lose it entirely), and the real pair survives
    val chain = (1 to 11).map(i => (i.toLong, i.toLong + 1)).toSet
    assert(capped === chain + ((100L, 101L)))
  }

  test("candidatePairs owns its lifecycle: no pinned storage left behind") {
    spark.catalog.clearCache()
    val sh = Dedup.shingleSet(docs, "doc_id", "text", 8)
    val bands = Dedup.lshBands(Dedup.minhashSignature(sh, "doc_id", 8), "doc_id", 8, 2)
    Dedup.candidatePairs(bands, "doc_id", maxBucket = Some(5)).count()
    // the bucket cap composes as a pure plan — nothing persists
    assert(spark.sharedState.cacheManager.isEmpty)
  }

  test("jaccardVerify: identical docs score 1.0, near dups score high") {
    val sh = Dedup.shingleSet(docs, "doc_id", "text", 8)
    val sig = Dedup.minhashSignature(sh, "doc_id", 8)
    val cand = Dedup.candidatePairs(Dedup.lshBands(sig, "doc_id", 8, 2), "doc_id")
    val jac = Dedup.jaccardVerify(cand, sh, "doc_id", 0.2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(jac((1L, 2L)) === 1.0)
    jac.get((1L, 3L)).foreach(j => assert(j > 0.5 && j < 1.0))
  }

  test("deduplicate: exact dup and near dup drop, min id survives, distinct doc kept") {
    val survivors = Dedup.deduplicate(docs, "doc_id", "text", minJaccard = 0.5)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // doc 2 is an exact dup of 1, doc 3 a near dup (jaccard ~0.7) — both
    // drop; 1 (lowest id) and the unrelated 4 survive
    assert(survivors === Set(1L, 4L))
  }

  test("duplicateClusters: chains merge transitively, min id labels the cluster") {
    import spark.implicits._
    // edges: 1~2, 2~3 (chain), 10~11 (separate), 20 isolated (absent)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val clusters = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(clusters === Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
    // ROUND-COUNT PIN: the loop's rounds are deterministic for a given
    // edge set (2 label rounds + 1 convergence-confirming round) — if
    // this grows, the plan regressed; wall-clock alone can't tell that
    // from environment noise (the q62 bench watch item)
    assert(Dedup.lastClusterRounds === 3)
  }

  test("duplicateClusters: 10k-link chain converges in O(log diameter) rounds") {
    import spark.implicits._
    val n = 10000
    // worst-case topology for label propagation: one path 0-1-2-...-n
    val chain = (0 until n).map(i => (i.toLong, i.toLong + 1)).toDF("doc_a", "doc_b")
    val t0 = System.nanoTime()
    val clusters = Dedup.duplicateClusters(chain)
    val wrong = clusters.where(col("cluster") =!= 0L).count()
    val secs = (System.nanoTime() - t0) / 1e9
    // plain O(diameter) propagation would need 10,000 rounds and an
    // un-checkpointed loop would die on plan blowup long before that;
    // pointer jumping + localCheckpoint settles the whole chain to
    // cluster 0 within the default 40-round budget
    assert(wrong === 0)
    assert(clusters.count() === n + 1)
    assert(secs < 120.0)
    // ROUND-COUNT PIN (exact, deterministic): pointer jumping settles a
    // 10,000-link path in 16 rounds — ~log2(10k) label-halving rounds
    // plus the convergence-confirming one. Plain propagation would take
    // 10,000; a lost grandparent hop would show up here as a huge jump,
    // and a subtler regression as any growth at all.
    assert(Dedup.lastClusterRounds === 16)
  }

  test("deduplicateTransitive keeps one survivor per chain cluster") {
    import spark.implicits._
    // 5~6~7 is a near-dup chain (6 bridges 5 and 7)
    val chain = Seq(
      (5L, "aaaa bbbb cccc dddd eeee ffff gggg hhhh iiii jjjj"),
      (6L, "aaaa bbbb cccc dddd eeee ffff gggg hhhh iiii zzzz"),
      (7L, "qqqq bbbb cccc dddd eeee ffff gggg hhhh iiii zzzz"),
      (9L, "totally different content that matches none of the others"))
      .toDF("doc_id", "text")
    val greedy = Dedup.deduplicate(chain, "doc_id", "text", minJaccard = 0.3)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    val transitive = Dedup.deduplicateTransitive(chain, "doc_id", "text", minJaccard = 0.3)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    // both keep the cluster min + the unrelated doc
    assert(transitive === Set(5L, 9L))
    assert(greedy === Set(5L, 9L))
  }

  test("dedup pipelines leave no cached RDDs behind (long-lived session hygiene)") {
    import spark.implicits._
    // the operators unpersist every corpus-sized intermediate before
    // returning; the only surviving blocks are the small drop-list /
    // label checkpoints, which are reference-tracked and reclaimed by
    // the ContextCleaner once the returned plan is dropped — so after
    // dropping the results and a GC beat, the persistent-RDD map must
    // return to its pre-call state
    // the sample MUST live in its own method frame: getPersistentRDDs
    // returns a strong-ref snapshot of Spark's weak-values registry, and
    // a snapshot lingering in the polling frame's local slot across the
    // System.gc() call would itself keep the RDD alive (verified by
    // heap dump: java_frame -> Map1.value1 -> RDD). The keys are copied
    // out: `keySet` is a view whose `$outer` is that snapshot, and
    // `keySet.toSet -- baseline` returns the view itself when nothing in
    // `baseline` is still persisted
    def extras(baseline: Set[Int]): Set[Int] =
      spark.sparkContext.getPersistentRDDs.keysIterator.toSet -- baseline
    def leaksAfter(baseline: Set[Int])(body: => Unit): Set[Int] = {
      body
      val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
      var extra = extras(baseline)
      while (extra.nonEmpty && System.nanoTime() < deadline) {
        System.gc(); Thread.sleep(200)
        extra = extras(baseline)
      }
      extra
    }
    val base = spark.sparkContext.getPersistentRDDs.keySet.toSet
    assert(leaksAfter(base) {
      Dedup.deduplicate(docs, "doc_id", "text", minJaccard = 0.5).count()
    }.isEmpty, "deduplicate leaked cached RDDs")
    assert(leaksAfter(base) {
      Dedup.deduplicateTransitive(docs, "doc_id", "text", minJaccard = 0.5).count()
    }.isEmpty, "deduplicateTransitive leaked cached RDDs")
    assert(leaksAfter(base) {
      val batch = Seq((100L, "some fresh batch document text never seen before"))
        .toDF("doc_id", "text")
      Dedup.dedupAgainstCorpus(batch, docs, "doc_id", "text").count()
    }.isEmpty, "dedupAgainstCorpus leaked cached RDDs")
  }

  test("simhash: identical docs get identical sketches; near dups are close") {
    val fp = Dedup.simhash(docs, "doc_id", "text", 16)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fp(1L) === fp(2L))
    assert(fp(1L).length === 16)
    val hamming13 = fp(1L).zip(fp(3L)).count { case (a, b) => a != b }
    val hamming14 = fp(1L).zip(fp(4L)).count { case (a, b) => a != b }
    assert(hamming13 < hamming14)
  }

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f)),
    (1L, Array(1.0f, 0.0f, 0.0f)),   // identical to 0
    (2L, Array(0.9f, 0.1f, 0.0f)),   // near 0
    (3L, Array(0.0f, 0.0f, 1.0f)))   // orthogonal to 0
    .toDF("vec_id", "embedding")

  test("cosine geometry: identical=1, orthogonal=0") {
    val sims = Similarity.bruteForcePairs(vecs, "vec_id", "embedding", -1.0)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(sims((0L, 1L)) === 1.0)
    assert(sims((0L, 3L)) === 0.0)
    assert(sims((0L, 2L)) > 0.99)
  }

  test("topK: nearest neighbours in order, probe excluded") {
    val top = Similarity.topK(vecs, "vec_id", "embedding", 0L, 2).collect()
    assert(top.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(top(0).getDouble(1) === 1.0)
  }

  test("native vec_dot/vec_cosine are bit-identical to the declarative fold") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    val rnd = new scala.util.Random(42)
    val data = Seq.tabulate(50)(i =>
      (i.toLong, Array.fill(64)(rnd.nextFloat() * 2 - 1),
        Array.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("id", "a", "b")
    val cmp = data.select(
      VectorOps.dot(col("a"), col("b")).as("native"),
      VectorOps.dotFold(col("a"), col("b")).as("fold"),
      VectorOps.cosine(col("a"), col("b")).as("cos_native"),
      (VectorOps.dotFold(col("a"), col("b")) /
        (sqrt(VectorOps.dotFold(col("a"), col("a"))) *
          sqrt(VectorOps.dotFold(col("b"), col("b"))))).as("cos_fold"))
      .collect()
    cmp.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
      assert(java.lang.Double.doubleToLongBits(r.getDouble(2)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(3)))
    }
  }

  test("vec_dot is available from SQL after registration") {
    graft.functions.GraftFunctions.register(spark)
    val v = spark.sql(
      "SELECT vec_cosine(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)), " +
        "array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)))").collect()(0).getDouble(0)
    assert(v === 1.0)
  }

  test("IVF with nprobe = cells equals exact brute-force top-k") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val many = Seq.tabulate(60)(i => (i.toLong, Array.fill(16)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val exact = Similarity.topK(many, "vec_id", "embedding", 3L, 5)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val ivfAll = Similarity.ivfTopK(many, "vec_id", "embedding", 3L,
      topK = 5, cells = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(ivfAll === exact)
    // narrow probe returns a subset of valid neighbours, ranked
    val ivf1 = Similarity.ivfTopK(many, "vec_id", "embedding", 3L,
      topK = 5, cells = 8, nprobe = 2)
      .collect().map(r => r.getLong(0)).toSeq
    assert(ivf1.nonEmpty && ivf1.size <= 5)
    assert(ivf1.toSet.subsetOf(
      Similarity.topK(many, "vec_id", "embedding", 3L, 60).collect().map(_.getLong(0)).toSet))
  }

  test("native hyperplane_sketch equals the declarative md5-weight fold exactly") {
    graft.functions.GraftFunctions.register(spark)
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val diff = emb.select(
      VectorOps.hyperplaneSketch(col("embedding"), 16).as("native"),
      VectorOps.hyperplaneSketchFold(col("embedding"), 16).as("ref"))
      .where(col("native") =!= col("ref")).count()
    assert(diff === 0)
  }

  test("hyperplane_sketch null element null-propagates to the all-zero sketch") {
    graft.functions.GraftFunctions.register(spark)
    val df = spark.sql(
      "SELECT array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT), CAST(2.0 AS FLOAT)) AS embedding")
    val row = df.select(
      VectorOps.hyperplaneSketch(col("embedding"), 8).as("native"),
      VectorOps.hyperplaneSketchFold(col("embedding"), 8).as("ref")).collect()(0)
    assert(row.getString(0) === "00000000")
    assert(row.getString(0) === row.getString(1))
  }

  test("ivfAssign: every vector lands in exactly one codebook cell") {
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val assigned = Similarity.ivfAssign(emb, "vec_id", "embedding", 8)
    assert(assigned.count() === emb.count())
    assert(assigned.select("vec_id").distinct().count() === emb.count())
    val cells = assigned.select("cell").distinct().count()
    assert(cells > 1 && cells <= 8)
  }

  test("IVF recall@10 >= 0.9 at a 12.5% scan on clustered vectors") {
    import spark.implicits._
    // planted clusters — the data a coarse quantizer exists FOR: 16
    // tight clusters of 30; the probe's true top-10 are cluster-mates,
    // so a codebook that found the density structure retrieves them
    // from nprobe=2 of 16 cells (a 12.5% scan)
    val rnd = new scala.util.Random(5)
    val centers = Array.fill(16)(Array.fill(64)(rnd.nextGaussian()))
    val pts = for (c <- 0 until 16; m <- 0 until 30) yield {
      val v = centers(c).map(x => (x + 0.15 * rnd.nextGaussian()).toFloat)
      ((c * 30 + m).toLong, v)
    }
    val emb = pts.toDF("vec_id", "embedding")
    val exact = Similarity.topK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", 0L,
      topK = 10, cells = 16, nprobe = 2)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(ivf).size / 10.0
    assert(recall >= 0.9,
      s"IVF recall@10 = $recall (cells=16, nprobe=2) — codebook quality regressed")
  }

  test("IVF on isotropic fixture embeddings: recall tracks the scan-fraction bound") {
    // the synthetic embeddings table is isotropic random (same-label and
    // cross-label cosine both ~0), so NO coarse quantizer concentrates
    // neighbours there — recall ~ scanned fraction is the information-
    // theoretic ceiling, not a codebook defect. Pin the measured level
    // as a regression floor at a 50% scan.
    val emb = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
    val exact = Similarity.topK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", 0L,
      topK = 10, cells = 16, nprobe = 8)
      .collect().map(_.getLong(0)).toSet
    assert(exact.intersect(ivf).size >= 8)
  }

  test("asofJoin: inclusive boundary, carry-forward, and null before first right row") {
    import spark.implicits._
    val left = Seq(
      (1L, 10L, 100L), // before any right row → null
      (2L, 20L, 100L), // exactly AT a right row ts → sees it (inclusive)
      (3L, 25L, 100L), // between right rows → carries the 20 one
      (4L, 40L, 100L), // after the last → carries the 30 one
      (5L, 15L, 200L)) // other key: right rows of key 100 invisible
      .toDF("id", "t", "k")
    val right = Seq((20L, 100L, "a"), (30L, 100L, "b"))
      .toDF("t", "k", "v")
    val out = AsOf.asofJoin(left, right, "k", "t", "v", as = "last_v")
      .collect().map(r => r.getAs[Long]("id") -> Option(r.getAs[String]("last_v"))).toMap
    assert(out === Map(
      1L -> None, 2L -> Some("a"), 3L -> Some("a"), 4L -> Some("b"), 5L -> None))
  }

  test("asofJoin: matched null payload stays null; null keys/ts never match") {
    import spark.implicits._
    val left = Seq((1L, 30L, java.lang.Long.valueOf(100L)), (2L, 5L, null.asInstanceOf[java.lang.Long]))
      .toDF("id", "t", "k")
    // ts=20 has a NULL payload: SQL ASOF matches it and yields null, not
    // the older "a"; the null-key right row must never leak anywhere
    val right = Seq(
      (10L, java.lang.Long.valueOf(100L), "a"),
      (20L, java.lang.Long.valueOf(100L), null.asInstanceOf[String]),
      (1L, null.asInstanceOf[java.lang.Long], "leak"))
      .toDF("t", "k", "v")
    val out = AsOf.asofJoin(left, right, "k", "t", "v", as = "last_v")
      .collect().map(r => r.getAs[Long]("id") -> Option(r.getAs[String]("last_v"))).toMap
    assert(out === Map(1L -> None, 2L -> None))
  }

  test("binned range join equals the naive BETWEEN join, boundaries inclusive") {
    import spark.implicits._
    val pts = Seq(0.5, 1.0, 2.5, 3.0, 7.9, 10.0).toDF("p")
    // ranges straddle bin boundaries and nest/overlap
    val ranges = Seq(("a", 1.0, 3.0), ("b", 2.5, 2.6), ("c", 0.0, 10.0), ("d", 8.0, 9.0))
      .toDF("name", "lo", "hi")
    val binned = RangeJoin.binned(pts, ranges, "p", "lo", "hi", binWidth = 2.0)
      .select(col("p"), col("name"))
      .collect().map(r => (r.getDouble(0), r.getString(1))).toSet
    val naive = pts.join(ranges, col("p") >= col("lo") && col("p") <= col("hi"))
      .select(col("p"), col("name"))
      .collect().map(r => (r.getDouble(0), r.getString(1))).toSet
    assert(binned === naive)
    // spot the inclusive boundaries: 1.0 at a's lo, 3.0 at a's hi, 10.0 at c's hi
    assert(binned.contains((1.0, "a")) && binned.contains((3.0, "a")))
    assert(binned.contains((10.0, "c")))
    assert(!binned.exists { case (p, n) => n == "d" && p != 8.0 && p != 9.0 })
  }

  test("quantizeInt8: codes span 0..255, round-trip error within half a step, constant vector is exact") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(0.0f, 0.5f, 1.0f)),            // evenly spread
      (2L, Array(3.0f, 3.0f, 3.0f)),            // constant: hi == lo
      (3L, Array(-2.0f, 0.0f, 2.0f))            // negative lo
    ).toDF("vec_id", "embedding")
    val r = Similarity.quantizeInt8(emb, "vec_id", "embedding")
      .collect().map(x => x.getAs[Long]("vec_id") -> x).toMap
    assert(r(1L).getAs[Seq[Long]]("codes") === Seq(0L, 128L, 255L))
    assert(r(1L).getAs[Double]("lo") === 0.0 && r(1L).getAs[Double]("hi") === 1.0)
    assert(r(2L).getAs[Seq[Long]]("codes") === Seq(0L, 0L, 0L))
    assert(r(2L).getAs[Double]("max_abs_err") === 0.0)
    assert(r(3L).getAs[Seq[Long]]("codes") === Seq(0L, 128L, 255L))
    // error bound: half a quantization step = (hi-lo)/255/2
    assert(r(1L).getAs[Double]("max_abs_err") <= 1.0 / 255 / 2 + 1e-12)
    assert(r(3L).getAs[Double]("max_abs_err") <= 4.0 / 255 / 2 + 1e-12)
  }

  test("LSH similarity: identical vectors share a bucket and survive re-rank") {
    val pairs = Similarity.lshPairs(vecs, "vec_id", "embedding", 4, 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((0L, 1L)))
  }

  test("fuzzy join: blocking finds exactly the levenshtein<=1 pairs") {
    import spark.implicits._
    val left = Seq("kitten", "spark", "a", "", "same", null)
      .toDF("lk")
    val right = Seq(
      "kitten",   // identical            -> dist 0
      "kittens",  // one insertion        -> dist 1
      "kitte",    // one deletion         -> dist 1
      "mitten",   // one substitution     -> dist 1
      "mittens",  // two edits            -> excluded
      "spurk",    // one substitution     -> dist 1
      "b",        // substitution on len1 -> dist 1 (vs "a"), insertion vs ""
      "same")
      .toDF("rk")
    val got = FuzzyJoin.editDistance1Join(left, "lk", right, "rk")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val expected = Set(
      ("kitten", "kitten", 0L), ("kitten", "kittens", 1L),
      ("kitten", "kitte", 1L), ("kitten", "mitten", 1L),
      ("spark", "spurk", 1L),
      ("a", "b", 1L), ("", "b", 1L),
      ("same", "same", 0L))
    assert(got === expected)
    // oracle equivalence on this fixture: the naive cross join agrees
    val naive = left.where(col("lk").isNotNull).crossJoin(right)
      .where(levenshtein(col("lk"), col("rk")) <= 1)
      .select(col("lk"), col("rk"), levenshtein(col("lk"), col("rk")).cast("long"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(got === naive)
  }

  test("validation: null-hostile predicates, duplicate counting, orphan and null FKs") {
    import spark.implicits._
    import Validation.{ForeignKey, Predicate, Unique}
    val facts = Seq(
      (1L, Option(10L), Option(5.0)),
      (2L, Option(10L), Option(-1.0)),  // predicate violation
      (2L, Option(20L), None),          // dup key + null metric (violation)
      (3L, Option(99L), Option(1.0)),   // orphan FK
      (4L, None, Option(2.0))           // null FK → violation
    ).toDF("id", "dim_id", "metric")
    val dim = Seq((10L, "a"), (20L, "b")).toDF("d_id", "d_name")
    val r = Validation.check(facts, Seq(
      Predicate("metric_positive", col("metric") > 0),
      Unique("id_unique", Seq("id")),
      ForeignKey("dim_fk", Seq("dim_id"), dim, Seq("d_id"))))
      .collect().map(x => x.getAs[String]("rule") ->
        (x.getAs[Long]("n_checked"), x.getAs[Long]("n_violations"))).toMap
    assert(r("metric_positive") === ((5L, 2L))) // -1 AND the null both violate
    assert(r("id_unique") === ((5L, 1L)))       // one extra occurrence of id=2
    assert(r("dim_fk") === ((5L, 2L)))          // orphan 99 + null key
  }

  test("validation: Unique pins null-safe key equality — null keys form real groups") {
    import spark.implicits._
    import Validation.Unique
    // keys 1,2,2,null,null: the dup 2 AND the second null each violate;
    // bare SQL count(DISTINCT col) would drop nulls and report 3
    val t = Seq(Option(1L), Option(2L), Option(2L), None, None).toDF("k")
    val r = Validation.check(t, Seq(Unique("k_unique", Seq("k"))))
      .collect()(0)
    assert(r.getAs[Long]("n_checked") === 5L)
    assert(r.getAs[Long]("n_violations") === 2L)
    // composite keys: (1,null) == (1,null) under null-safe equality
    val c = Seq((Option(1L), None), (Option(1L), None), (Option(1L), Option(2L)))
      .asInstanceOf[Seq[(Option[Long], Option[Long])]]
      .toDF("a", "b")
    val rc = Validation.check(c, Seq(Unique("ab_unique", Seq("a", "b"))))
      .collect()(0)
    assert(rc.getAs[Long]("n_violations") === 1L)
  }

  test("dedupAgainstCorpus: verbatim recrawl and near-dup drop, fresh doc survives") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "completely different corpus content about query engines")
    ).toDF("doc_id", "text")
    val batch = Seq(
      (101L, "the quick brown fox jumps over the lazy dog again and again"), // verbatim → exact drop
      (102L, "the quick brown fox jumps over the lazy dog again and again!"), // near → LSH drop
      (103L, "zq entirely novel text with no shingle overlap whatsoever")     // fresh → survives
    ).toDF("doc_id", "text")
    val kept = Dedup.dedupAgainstCorpus(batch, corpus, "doc_id", "text",
      minJaccard = 0.5, maxBucket = Some(32))
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(kept === Set(103L))
    // corpus is only probed — nothing from it appears in the output
    // and an empty batch stays empty
    val none = Dedup.dedupAgainstCorpus(batch.where(lit(false)), corpus,
      "doc_id", "text").collect()
    assert(none.isEmpty)
  }

  test("scd2/snapshotAt: half-open intervals, current row open-ended, pre-first keys absent") {
    import spark.implicits._
    val log = Seq(
      (1L, 10L, "v1"), (1L, 20L, "v2"), (1L, 30L, "v3"),
      (2L, 25L, "w1")
    ).toDF("key", "ver_ts", "attr")
    val hist = Temporal.scd2(log, "key", "ver_ts").collect()
      .map(r => (r.getAs[Long]("key"), r.getAs[Long]("valid_from")) ->
        Option(r.getAs[Any]("valid_to")))
      .toMap
    assert(hist((1L, 10L)) === Some(20L))
    assert(hist((1L, 20L)) === Some(30L))
    assert(hist((1L, 30L)) === None) // current version open-ended
    assert(hist((2L, 25L)) === None)
    def snap(at: Long) = Temporal
      .snapshotAt(Temporal.scd2(log, "key", "ver_ts"), lit(at))
      .collect().map(r => r.getAs[Long]("key") -> r.getAs[String]("attr")).toMap
    assert(snap(20L) === Map(1L -> "v2"))        // boundary: new version visible AT its start
    assert(snap(24L) === Map(1L -> "v2"))        // key 2 not born yet
    assert(snap(25L) === Map(1L -> "v2", 2L -> "w1"))
    assert(snap(99L) === Map(1L -> "v3", 2L -> "w1"))
    assert(snap(5L) === Map.empty)               // before history begins
  }

  test("knnGraph: identical twins rank first, degree bounded by k") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1f, 0f, 0f)),
      (2L, Array(1f, 0f, 0f)),   // twin of 1
      (3L, Array(0f, 1f, 0f)),
      (4L, Array(0f, 1f, 0f)),   // twin of 3
      (5L, Array(0.9f, 0.1f, 0f))
    ).toDF("vec_id", "embedding")
    val g = Similarity.knnGraph(emb, "vec_id", "embedding", planes = 2, k = 2)
      .collect()
    // degree never exceeds k
    assert(g.groupBy(_.getAs[Long]("src")).forall(_._2.length <= 2))
    val top = g.filter(_.getAs[Long]("rank") == 1L)
      .map(r => r.getAs[Long]("src") -> (r.getAs[Long]("dst"), r.getAs[Double]("cos_sim")))
      .toMap
    // identical vectors share a bucket trivially and cosine 1.0 ranks first
    assert(top(1L) === ((2L, 1.0)))
    assert(top(2L) === ((1L, 1.0)))
    assert(top(3L) === ((4L, 1.0)))
    assert(top(4L) === ((3L, 1.0)))
  }

  test("fuzzyJoinRows: distance-2 typos matched, payload columns carried, far strings excluded") {
    import spark.implicits._
    val a = Seq((1L, "spark engine", "L")).toDF("a_id", "a_name", "a_tag")
    val b = Seq(
      (10L, "spark engine", "exact"),     // dist 0
      (11L, "spark enine", "one-del"),    // dist 1
      (12L, "sprk enine", "two-del"),     // dist 2
      (13L, "spark enginexy", "two-ins"), // dist 2
      (14L, "scala", "far")               // excluded
    ).toDF("b_id", "b_name", "b_tag")
    val out = FuzzyJoin.fuzzyJoinRows(a, "a_name", b, "b_name", maxDist = 2).collect()
    val distByB = out.map(r => r.getAs[Long]("b_id") -> r.getAs[Long]("dist")).toMap
    assert(distByB === Map(10L -> 0L, 11L -> 1L, 12L -> 2L, 13L -> 2L))
    // both sides' payloads ride along
    assert(out.forall(_.getAs[String]("a_tag") == "L"))
    assert(out.find(_.getAs[Long]("b_id") == 12L).get.getAs[String]("b_tag") === "two-del")
    // the d=1 kernel keeps its tighter contract on the same data
    val d1 = FuzzyJoin.editDistanceJoin(a, "a_name", b, "b_name", maxDist = 1)
      .collect().map(_.getAs[String]("b_name")).toSet
    assert(d1 === Set("spark engine", "spark enine"))
    // depth > 2 is a loud error, not a silent quadratic plan
    intercept[IllegalArgumentException] {
      FuzzyJoin.editDistanceJoin(a, "a_name", b, "b_name", maxDist = 3)
    }
    // colliding column names refuse loudly (the output carries both rows)
    intercept[IllegalArgumentException] {
      FuzzyJoin.fuzzyJoinRows(a, "a_name",
        b.withColumnRenamed("b_tag", "a_tag"), "b_name", 1)
    }
  }

  test("simhashPairs: band blocking finds exactly the hamming<=k pairs; bands partition the bits") {
    import spark.implicits._
    // hand-built 16-bit sketches: known pairwise hamming distances
    val sk = Seq(
      (1L, "1010101010101010"),
      (2L, "1010101010101011"),  // d(1,2)=1
      (3L, "1010101010100101"),  // d(1,3)=4, d(2,3)=3
      (4L, "0101010101010101")   // d(1,4)=16 — must never appear
    ).toDF("doc_id", "simhash")
    def pairs(k: Int) = Dedup.simhashPairs(sk, "doc_id", bits = 16, maxHamming = k)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("hamming")).toMap
    assert(pairs(1) === Map((1L, 2L) -> 1L))
    assert(pairs(3) === Map((1L, 2L) -> 1L, (2L, 3L) -> 3L))
    // maxHamming = 4 over 16 bits makes 5 bands — an uneven split whose
    // lazy ceil-width version would leave an EMPTY band matching all
    assert(pairs(4) === Map((1L, 2L) -> 1L, (2L, 3L) -> 3L, (1L, 3L) -> 4L))
    // exact vs brute force on the simhash of real-ish docs
    val docs = Seq(
      (10L, "the quick brown fox jumps over the lazy dog again and again"),
      (11L, "the quick brown fox jumps over the lazy dog again and once"),
      (12L, "entirely different content about spark query planning")
    ).toDF("doc_id", "text")
    val sketches = Dedup.simhash(docs, "doc_id", "text", 16)
    val blocked = Dedup.simhashPairs(sketches, "doc_id", 16, maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("hamming"))).toSet
    val rows = sketches.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val brute = (for {
      a <- rows.keys; b <- rows.keys if a < b
      d = rows(a).zip(rows(b)).count { case (x, y) => x != y }
      if d <= 6
    } yield (a, b, d.toLong)).toSet
    assert(blocked === brute)
    // the cap may only shrink the result, deterministically
    val capped = Dedup.simhashPairs(sketches, "doc_id", 16, 6, maxBucket = Some(1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getAs[Long]("hamming"))).toSet
    assert(capped.subsetOf(brute))
  }

  test("deletion_hashes equals the declarative neighborhood's xxhash64 set (incl. multibyte)") {
    import spark.implicits._
    graft.functions.GraftFunctions.register(spark)
    // the HOF builders stay as the readable oracle for the native
    // expression that replaced them in the join path
    val ss = Seq("", "a", "ab", "kitten", "naïve café", "日本語テキスト",
      "aabbaa", "Customer#000000001")
    val df = ss.toDF("s")
    for (d <- Seq(1, 2)) {
      val native = df.select(col("s"),
        graft.functions.GraftFunctions.deletion_hashes(col("s"), d).as("h"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
      val hood =
        if (d == 1) FuzzyJoin.deletionVariants(col("s"))
        else FuzzyJoin.deletionVariants2(col("s"))
      val oracle = df.select(col("s"),
        transform(hood, v => xxhash64(v)).as("h"))
        .collect().map(r => r.getString(0) -> r.getSeq[Long](1).toSet).toMap
      assert(native === oracle, s"depth $d")
    }
  }

  test("editDistanceJoin maxBucket: generous cap stays exact, tiny cap only shrinks the result") {
    import spark.implicits._
    // 1-char keys: the "" deletion variant is shared by EVERY key —
    // the degenerate hot bucket the cap exists for
    val l = ('a' to 'j').map(c => c.toString).toDF("ka")
    val r = ('a' to 'j').map(c => c.toString).toDF("kb")
    def pairs(cap: Option[Int]) =
      FuzzyJoin.editDistanceJoin(l, "ka", r, "kb", maxDist = 1, maxBucket = cap)
        .collect().map(x => (x.getString(0), x.getString(1))).toSet
    val exact = pairs(None)
    assert(exact.size === 100) // every 1-char pair is within distance 1
    assert(pairs(Some(1000)) === exact, "a cap above every bucket must change nothing")
    val capped = pairs(Some(3))
    assert(capped.subsetOf(exact), "capping may only drop pairs, never invent them")
    assert(capped.size < exact.size, "the hot '' bucket must actually truncate")
    // determinism: same cap, same result
    assert(pairs(Some(3)) === capped)
  }

  test("kmeans: total assignment, axis clusters separate, deterministic across layouts") {
    import spark.implicits._
    // three tight clusters along coordinate axes, 12 vectors each; the
    // id range starts at 24 so the 3 smallest-md5 seeds (27, 59, 43)
    // land on three DIFFERENT axes — k-means converges to axis clusters
    val emb = (24L until 60L).map { i =>
      val axis = (i % 3).toInt
      val base = Array(0.02f * i, 0.02f * i, 0.02f * i)
      base(axis) += 10f
      (i, base)
    }.toDF("vec_id", "embedding")
    val r = Similarity.kmeansAssign(emb, "vec_id", "embedding", k = 3, iters = 2)
      .collect()
    assert(r.length === 36)                       // every vector exactly once
    assert(r.map(_.getAs[Long]("cell")).distinct.length === 3)
    // cosine clustering must separate the axes: same-axis vectors share a cell
    val cellOf = r.map(x => x.getAs[Long]("vec_id") -> x.getAs[Long]("cell")).toMap
    // 24 % 3 == 0, so ids 24/25/26 represent axes 0/1/2
    (24L until 60L).foreach(i => assert(cellOf(i) === cellOf(24L + (i % 3))))
    assert(r.forall(_.getAs[Double]("cell_sim") > 0.9))
    val again = Similarity.kmeansAssign(
      emb.repartition(7), "vec_id", "embedding", 3, 2)
      .collect().map(x => x.getAs[Long]("vec_id") -> x.getAs[Long]("cell")).toMap
    assert(again === cellOf)
  }

  test("kmeans codebook memo: shared codebook is bit-identical to fresh training") {
    import spark.implicits._
    val emb = (24L until 60L).map { i =>
      val axis = (i % 3).toInt
      val base = Array(0.02f * i, 0.02f * i, 0.02f * i)
      base(axis) += 10f
      (i, base)
    }.toDF("vec_id", "embedding")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    val fresh = rows(Similarity.kmeansCodebook(emb, "vec_id", "embedding", 3, 2))
    val key = Some(s"opspec-memo-${System.nanoTime()}")
    val first = rows(Similarity.kmeansCodebook(emb, "vec_id", "embedding", 3, 2, key))
    // second call with the same key must NOT retrain — feed a corrupted
    // frame and expect the memoized (correct) codebook back
    val poisoned = emb.withColumn("embedding",
      org.apache.spark.sql.functions.array(lit(1f), lit(2f), lit(3f)))
    val second = rows(Similarity.kmeansCodebook(poisoned, "vec_id", "embedding", 3, 2, key))
    assert(first === fresh, "memoized training must equal fresh training bit-for-bit")
    assert(second === fresh, "same cacheKey must reuse, not retrain")
    // and consumers agree end-to-end
    val viaMemo = Similarity.kmeansAssign(emb, "vec_id", "embedding", 3, 2, key)
      .collect().map(x => x.getAs[Long]("vec_id") -> x.getAs[Long]("cell")).toMap
    val viaFresh = Similarity.kmeansAssign(emb, "vec_id", "embedding", 3, 2)
      .collect().map(x => x.getAs[Long]("vec_id") -> x.getAs[Long]("cell")).toMap
    assert(viaMemo === viaFresh)
  }

  test("assignment paths: literal fold and broadcast argmax agree at k=64, neither plans a window") {
    import spark.implicits._
    // dim=160, k=64 → k·dim = 10240, past literalFoldMaxFloats: the
    // dispatched plan must be the broadcast argmax. Deterministic
    // pseudo-random geometry; cells 5 and 9 share one centroid so the
    // tie-to-lowest-cell rule is exercised, not just documented.
    val dim = 160
    def vecOf(seed: Long): Array[Float] =
      Array.tabulate(dim)(j => (((seed * 2654435761L + j * 40503L) % 1000L) / 1000.0f) + 0.01f)
    val emb = (0L until 200L).map(i => (i, vecOf(i))).toDF("vec_id", "embedding")
    val cbRows = (0L until 64L).map(c => (c, vecOf(if (c == 9L) 5000L + 5L else 5000L + c)))
    val cb = cbRows.toDF("cell", "cvec")
    def byId(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getAs[Long]("vec_id") ->
        (r.getAs[Long]("cell"), r.getAs[Double]("cell_sim"))).toMap
    val lit0 = Similarity.assignLiteral(emb, "vec_id", "embedding", cb)
    val bc0 = Similarity.assignBroadcast(emb, "vec_id", "embedding", cb)
    assert(byId(lit0) === byId(bc0),
      "literal-fold and broadcast-argmax assignments must be bit-identical")
    // no row may ever resolve a tie to cell 9 (its twin, 5, is lower)
    assert(!bc0.collect().exists(_.getAs[Long]("cell") == 9L))
    // neither shape sorts: a window Exchange was the pre-r7 regression
    Seq(lit0, bc0).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"assignment must not plan a window:\n$plan")
    }
    // dispatch: the public entry picks broadcast above the threshold
    // (a join appears in the plan) and the literal fold below it
    val bigPlan = Similarity.assignToCodebook(emb, "vec_id", "embedding", cb)
      .queryExecution.executedPlan.toString
    assert(bigPlan.contains("Join"), s"k·dim>threshold must broadcast-join:\n$bigPlan")
    val smallCb = cbRows.take(8).toDF("cell", "cvec")
    val smallPlan = Similarity.assignToCodebook(emb, "vec_id", "embedding", smallCb)
      .queryExecution.executedPlan.toString
    assert(!smallPlan.contains("Join"), s"small codebook must stay a map-only fold:\n$smallPlan")
    // and the dispatched big-k result is the common answer
    assert(byId(Similarity.assignToCodebook(emb, "vec_id", "embedding", cb))
      === byId(bc0.select(col("vec_id"), col("cell"), round(col("cell_sim"), 6).as("cell_sim"))))
  }

  test("empty corpus: assignment and semantic dedup return empty, not a crash") {
    import spark.implicits._
    val emb = Seq((1L, Array(1f, 0f, 0f))).toDF("vec_id", "embedding")
    val none = emb.where(lit(false))
    val assigned = Similarity.kmeansAssign(none, "vec_id", "embedding", k = 3, iters = 1)
    assert(assigned.columns.toSeq === Seq("vec_id", "cell", "cell_sim"))
    assert(assigned.count() === 0)
    assert(Similarity.semanticDedup(none, "vec_id", "embedding", 3, 1, 0.9).count() === 0)
    // an empty EXTERNAL codebook (k rows lost to refinement upstream)
    // also degrades to empty rather than require-crashing
    val emptyCb = Seq.empty[(Long, Array[Float])].toDF("cell", "cvec")
    assert(Similarity.assignToCodebook(emb, "vec_id", "embedding", emptyCb).count() === 0)
  }

  test("codebookCache: capped with LRU eviction, evicted keys retrain to identical bits") {
    import spark.implicits._
    val emb = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f))).toDF("vec_id", "embedding")
    Similarity.clearCodebookCache()
    val fresh = Similarity.kmeansCodebook(emb, "vec_id", "embedding", 1, 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    (0 until Similarity.codebookCacheCap + 6).foreach { i =>
      Similarity.kmeansCodebook(emb, "vec_id", "embedding", 1, 0,
        Some(s"cap-spec-$i")).count()
    }
    assert(Similarity.codebookCacheSize <= Similarity.codebookCacheCap,
      "memo must stay bounded after more distinct keys than the cap")
    // key 0 was evicted (LRU); re-requesting it retrains — and training
    // determinism makes the retrained bits identical to fresh
    val retrained = Similarity.kmeansCodebook(emb, "vec_id", "embedding", 1, 0,
      Some("cap-spec-0")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toSeq).toMap
    assert(retrained === fresh)
    Similarity.clearCodebookCache()
  }

  test("semanticDedup: lower-id near-duplicate survives, higher-id copy drops, distinct vectors stay") {
    import spark.implicits._
    val emb = Seq(
      (1L, Array(1f, 0f, 0f), "a"),
      (2L, Array(0.999f, 0.001f, 0f), "a"),   // near-dup of 1 → dropped
      (3L, Array(0f, 1f, 0f), "b"),
      (4L, Array(0f, 0f, 1f), "c"),
      (5L, Array(0f, 0.999f, 0.001f), "b")    // near-dup of 3 → dropped
    ).toDF("vec_id", "embedding", "label")
    val kept = Similarity.semanticDedup(emb, "vec_id", "embedding",
      k = 3, iters = 2, minCos = 0.99)
      .collect().map(_.getAs[Long]("vec_id")).toSet
    assert(kept === Set(1L, 3L, 4L))
    // survivors keep their full row (label column intact)
    val labels = Similarity.semanticDedup(emb, "vec_id", "embedding", 3, 2, 0.99)
      .collect().map(x => x.getAs[Long]("vec_id") -> x.getAs[String]("label")).toMap
    assert(labels === Map(1L -> "a", 3L -> "b", 4L -> "c"))
  }
}
