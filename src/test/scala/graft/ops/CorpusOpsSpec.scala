package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics pins for the corpus-governance operators (the oracle gate
  * covers synthetic-table scale; these fix the edge cases).
  */
class CorpusOpsSpec extends AnyFunSuite {
  private lazy val spark = graft.TestSpark.spark
  import spark.implicits._

  test("repetitionStats: degenerate loop text scores high, varied text low") {
    val docs = Seq(
      (1L, "spam spam spam spam"),                 // one token repeated
      (2L, "a b c d e f g h"),                     // all distinct
      (3L, "x")                                    // single token: no bigrams
    ).toDF("doc_id", "text")
    val r = CorpusOps.repetitionStats(docs, "doc_id", "text")
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Long]("n_tokens") === 4L)
    assert(r(1L).getAs[Double]("distinct_ratio") === 0.25)
    assert(r(1L).getAs[Double]("top_unigram_frac") === 1.0)
    assert(r(1L).getAs[Double]("top_bigram_frac") === 1.0) // "spam spam" ×3 / 3
    assert(r(2L).getAs[Double]("distinct_ratio") === 1.0)
    assert(r(2L).getAs[Double]("top_unigram_frac") === 0.125)
    // a single-token doc has no bigram denominator — NULL, not 0/0
    assert(r(3L).isNullAt(r(3L).fieldIndex("top_bigram_frac")))
  }

  test("ngramContamination: copied doc is fully contaminated, disjoint doc is absent-of-hits") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"), // exact copy → frac 1.0
      (2L, "alpha beta gamma unrelated tail"), // shares exactly 1 of 3 grams
      (3L, "zeta eta theta iota kappa"),       // disjoint → frac 0.0
      (4L, "too short")                        // < n tokens → absent
    ).toDF("doc_id", "text")
    val r = CorpusOps.ngramContamination(corpus, bench, "doc_id", "text", 3)
      .collect().map(x => x.getAs[Long]("doc_id") -> x).toMap
    assert(r(1L).getAs[Double]("contamination_frac") === 1.0)
    assert(r(2L).getAs[Long]("n_contaminated") === 1L)
    assert(r(2L).getAs[Double]("contamination_frac") === 0.3333)
    assert(r(3L).getAs[Double]("contamination_frac") === 0.0)
    assert(!r.contains(4L))
  }

  test("deterministicSplit: stable across runs and repartitioning, ~80/10/10") {
    val docs = (0L until 1000L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val once = CorpusOps.deterministicSplit(docs, "doc_id")
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val again = CorpusOps.deterministicSplit(docs.repartition(7), "doc_id")
      .select("doc_id", "split").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(once === again)
    val counts = once.values.groupBy(identity).view.mapValues(_.size).toMap
    assert(counts("train") > 700 && counts("train") < 900)
    assert(counts("val") > 50 && counts("val") < 200)
    assert(counts("test") > 50 && counts("test") < 200)
  }

  test("invertedIndex: per-doc distinct terms, df counts, capped ascending postings") {
    val docs = Seq(
      (3L, "apple banana apple"), // duplicate token counts once per doc
      (1L, "apple cherry"),
      (2L, "apple")
    ).toDF("doc_id", "text")
    val r = CorpusOps.invertedIndex(docs, "doc_id", "text", maxPostings = 2)
      .collect()
      .map(x => x.getAs[String]("term") ->
        (x.getAs[Long]("df"), x.getAs[Seq[Long]]("postings"))).toMap
    assert(r("apple") === (3L, Seq(1L, 2L))) // df counts all 3; postings capped at 2, ascending
    assert(r("banana") === (1L, Seq(3L)))
    assert(r("cherry") === (1L, Seq(1L)))
  }

  test("chunk: full coverage, overlap sharing, short tail, short doc") {
    val docs = Seq(
      (1L, "t1 t2 t3 t4 t5 t6 t7 t8 t9 t10"), // 10 tokens
      (2L, "a b")                              // shorter than one chunk
    ).toDF("doc_id", "text")
    val r = CorpusOps.chunk(docs, "doc_id", "text", size = 4, overlap = 1)
      .collect()
      .map(x => (x.getAs[Long]("doc_id"), x.getAs[Long]("chunk_id")) ->
        (x.getAs[Long]("n_chunk_tokens"), x.getAs[String]("chunk_text"))).toMap
    // stride 3 → starts 1,4,7: chunks [1-4],[4-7],[7-10]
    assert(r((1L, 0L)) === (4L, "t1 t2 t3 t4"))
    assert(r((1L, 1L)) === (4L, "t4 t5 t6 t7"))
    assert(r((1L, 2L)) === (4L, "t7 t8 t9 t10"))
    // consecutive chunks share exactly `overlap` tokens
    assert(r((1L, 0L))._2.split(" ").last === r((1L, 1L))._2.split(" ").head)
    // a doc shorter than one chunk yields a single short chunk
    assert(r((2L, 0L)) === (2L, "a b"))
    assert(r.size === 4)
  }

  test("redactPii scrubs emails, phones, and IPv4 but not plain text") {
    val r = Seq((1L, "mail a.b@x.co or +1-555-0100 at 10.0.0.1 versus v1.2 and fee 3.50"))
      .toDF("id", "t")
      .select(TextOps.redactPii(col("t"))).head().getString(0)
    assert(r === "mail <EMAIL> or <PHONE> at <IP> versus v1.2 and fee 3.50")
  }

  test("duplicatedPassages: shared spans count, unique text doesn't, short docs absent") {
    val docs = Seq(
      (1L, "a b c d e f"),   // spans: "a b c","b c d","c d e","d e f"
      (2L, "x y a b c d z"), // shares "a b c" and "b c d" with doc 1
      (3L, "p q r s"),       // fully unique
      (4L, "t u")            // < n tokens → absent
    ).toDF("doc_id", "text")
    val r = CorpusOps.duplicatedPassages(docs, "doc_id", "text", n = 3)
      .collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_spans"), x.getAs[Long]("n_dup_spans"),
          x.getAs[Double]("dup_frac"))).toMap
    assert(r(1L) === ((4L, 2L, 0.5)))
    assert(r(2L) === ((5L, 2L, 0.4)))
    assert(r(3L) === ((2L, 0L, 0.0)))
    assert(!r.contains(4L))
  }

  test("dedupLines: first occurrence survives, docs rebuild in order, empty docs kept") {
    val docs = Seq(
      (1L, "header\nunique one\nfooter"),
      (2L, "header\nunique two\nfooter"),  // header+footer lose to doc 1
      (3L, "header\nfooter"),              // loses every line
      (4L, "unique two\nsolo")             // "unique two" lost to doc 2
    ).toDF("doc_id", "text")
    val r = CorpusOps.dedupLines(docs, "doc_id", "text")
      .collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_lines"), x.getAs[Long]("n_lines_kept"),
          x.getAs[String]("text_deduped"))).toMap
    assert(r(1L) === ((3L, 3L, "header\nunique one\nfooter")))
    assert(r(2L) === ((3L, 1L, "unique two")))
    assert(r(3L) === ((2L, 0L, "")))
    assert(r(4L) === ((2L, 1L, "solo")))
    // stable under repartitioning (survivor = smallest (id, line_no), not luck)
    val again = CorpusOps.dedupLines(docs.repartition(7), "doc_id", "text")
      .collect().map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("text_deduped")).toMap
    assert(again === r.map { case (k, v) => k -> v._3 })
    // blank lines are paragraph STRUCTURE: exempt from the corpus-wide
    // competition — every doc keeps its own, not just the global first
    val blanky = Seq((1L, "para a\n\npara b"), (2L, "para c\n\npara d"))
      .toDF("doc_id", "text")
    val b = CorpusOps.dedupLines(blanky, "doc_id", "text")
      .collect().map(x => x.getAs[Long]("doc_id") -> x.getAs[String]("text_deduped")).toMap
    assert(b(1L) === "para a\n\npara b")
    assert(b(2L) === "para c\n\npara d")
  }

  test("stripBoilerplate: over-threshold lines vanish everywhere, content survives") {
    val docs = Seq(
      (1L, "nav bar\nreal content a\ncopyright"),
      (2L, "nav bar\nreal content b\ncopyright"),
      (3L, "nav bar\nreal content c\ncopyright"),
      (4L, "nav bar\nnav bar\nonly here")   // duplicate INSIDE one doc counts once for df
    ).toDF("doc_id", "text")
    // "nav bar" df=4, "copyright" df=3 → both > 2; content lines df=1
    val r = CorpusOps.stripBoilerplate(docs, "doc_id", "text", maxDocs = 2)
      .collect()
      .map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_lines_kept"), x.getAs[String]("text_stripped"))).toMap
    assert(r(1L) === ((1L, "real content a")))
    assert(r(2L) === ((1L, "real content b")))
    assert(r(3L) === ((1L, "real content c")))
    assert(r(4L) === ((1L, "only here"))) // both nav-bar copies stripped
    // unlike dedupLines, NO occurrence survives — not even the first
    assert(!r.values.exists(_._2.contains("nav bar")))
  }

  test("bigramLmScore: repeated in-distribution bigrams score low, rare ones high") {
    val docs = Seq(
      (1L, "a b a b a b"),   // only bigrams "a b"/"b a" — the corpus mode
      (2L, "a b"),           // single common bigram
      (3L, "x y"),           // bigram seen once, unigram "x" seen once
      (4L, "solo")           // 1 token → no bigrams → absent
    ).toDF("doc_id", "text")
    val r = CorpusOps.bigramLmScore(docs, docs, "doc_id", "text", k = 0.5)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("n_bigrams"), x.getAs[Double]("avg_nll"))).toMap
    // model: V=5 distinct unigrams; c("a b")=4, c(a)=4 → nll(a b)=-ln(4.5/6.5)
    val nllAb = -math.log(4.5 / 6.5)
    val nllBa = -math.log(2.5 / 6.5)   // c("b a")=2, c(b)=4
    val nllXy = -math.log(1.5 / 3.5)   // c("x y")=1, c(x)=1
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r(1L) === ((5L, r4((3 * nllAb + 2 * nllBa) / 5))))
    assert(r(2L) === ((1L, r4(nllAb))))
    assert(r(3L) === ((1L, r4(nllXy))))
    assert(!r.contains(4L))
    assert(r(3L)._2 > r(2L)._2) // rare bigram scores worse than the mode
  }

  test("bigramLmScore: out-of-vocabulary bigrams against a separate training set") {
    val train = Seq((1L, "a b a b")).toDF("doc_id", "text")   // V=2, c(a b)=2, c(a)=2
    val score = Seq(
      (10L, "a b"),      // in-vocab: -ln((2+.5)/(2+.5*2))
      (11L, "q z")       // fully OOV: c2=0, c1=0 → -ln(.5/(.5*2))
    ).toDF("doc_id", "text")
    val r = CorpusOps.bigramLmScore(score, train, "doc_id", "text", k = 0.5)
      .collect().map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("avg_nll")).toMap
    def r4(x: Double) =
      BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r(10L) === r4(-math.log(2.5 / 3.0)))
    assert(r(11L) === r4(-math.log(0.5 / 1.0)))  // smoothing floor, finite
    assert(r(11L) > r(10L))                      // OOV text scores strictly worse
  }

  test("temperatureSample: smallest stratum survives whole; rates follow (nmin/n)^(1-alpha); deterministic") {
    val docs = ((0L until 400L).map(i => (i, "en")) ++
      (400L until 500L).map(i => (i, "fr")) ++
      (500L until 525L).map(i => (i, "sw"))).toDF("doc_id", "lang")
    val r = CorpusOps.temperatureSample(docs, "lang", "doc_id", alpha = 0.5)
    val kept = r.collect().map(x => (x.getAs[String]("lang"), x.getAs[Long]("doc_id")))
    val byLang = kept.groupBy(_._1).view.mapValues(_.length).toMap
    // smallest stratum: rate (25/25)^0.5 = 1 → every row kept
    assert(byLang("sw") === 25)
    // head stratum: rate (25/400)^0.5 = 0.25 → binomial(400, .25), wide bound
    assert(byLang("en") > 50 && byLang("en") < 150)
    val rates = r.select(col("lang"), col("keep_rate")).distinct().collect()
      .map(x => x.getAs[String]("lang") -> x.getAs[Double]("keep_rate")).toMap
    assert(rates("sw") === 1.0)
    assert(rates("en") === 0.25)
    assert(rates("fr") === 0.5)
    // pure function of the id: same rows on a different partition layout
    val again = CorpusOps.temperatureSample(docs.repartition(7), "lang", "doc_id", 0.5)
      .collect().map(x => (x.getAs[String]("lang"), x.getAs[Long]("doc_id")))
    assert(again.sorted.toSeq === kept.sorted.toSeq)
  }

  test("compressionSignals: repetitive < prose < incompressible, deterministic, exact sizes") {
    val repetitive = "spam " * 200
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "wanders across a field of alternating wildflowers before returning home " * 3
    val rnd = new scala.util.Random(42)
    val noise = (0 until 1000).map(_ => (rnd.nextInt(94) + 33).toChar).mkString
    val docs = Seq((1L, repetitive), (2L, prose), (3L, noise), (4L, ""))
      .toDF("doc_id", "text")
    val r = CorpusOps.compressionSignals(docs, "doc_id", "text")
      .collect().map(c => c.doc_id -> c).toMap
    assert(r(1L).n_bytes === 1000L)
    assert(r(1L).ratio < 0.1)                  // degenerate loops collapse
    assert(r(1L).ratio < r(2L).ratio)          // prose compresses less
    assert(r(2L).ratio < r(3L).ratio)          // noise barely compresses
    assert(r(4L) === CorpusOps.CompressionSignal(4L, 0L, r(4L).deflate_bytes, 1.0))
    // partitioning must not change results
    val again = CorpusOps.compressionSignals(docs.repartition(3), "doc_id", "text")
      .collect().map(c => c.doc_id -> c).toMap
    assert(again === r)
  }

  test("bm25: tf raises score with diminishing returns, rare terms outweigh common, non-hits absent") {
    val docs = Seq(
      (1L, "join join join pad pad pad pad pad"),   // tf=3 for "join"
      (2L, "join pad pad pad pad pad pad pad"),     // tf=1, same length
      (3L, "rare pad pad pad pad pad pad pad"),     // tf=1 of the rarer term
      (4L, "pad pad pad pad pad pad pad pad")       // no query terms → absent
    ).toDF("doc_id", "text")
    val r = CorpusOps.bm25(docs, "doc_id", "text", Seq("join", "rare"))
      .collect().map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("bm25")).toMap
    assert(!r.contains(4L))
    assert(r(1L) > r(2L))              // higher tf, same dl → higher score
    assert(r(1L) < 3 * r(2L))          // but sub-linear (saturation)
    assert(r(3L) > r(2L))              // df=1 term beats df=2 term at equal tf/dl
    // pin one value: N=4, avgdl=8, dl=8 → len norm = 1; df(join)=2
    // idf = ln(1 + 2.5/2.5) = ln 2; tf=1 → s = ln2 * 2.2/(1 + 1.2)
    val expect = BigDecimal(math.log(2.0) * 2.2 / 2.2)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r(2L) === expect)
  }

  test("bm25: a repeated query term scores as the term given once") {
    val docs = Seq(
      (1L, "join join pad"),
      (2L, "join pad pad pad"),
      (3L, "rare pad"),
      (4L, "pad pad")
    ).toDF("doc_id", "text")
    def scores(terms: Seq[String]) = CorpusOps.bm25(docs, "doc_id", "text", terms)
      .collect().map(x => x.getAs[Long]("doc_id") -> x.getAs[Double]("bm25")).toMap
    assert(scores(Seq("join", "join")) === scores(Seq("join")))
    assert(scores(Seq("join", "rare", "join")) === scores(Seq("join", "rare")))
  }

  test("bm25 single-pass shape equals the multi-pass reference on every edge shape") {
    // equivalence pin for the round-22 restructure (per-term tf columns
    // + df folded into the stats row, replacing the explode → tf/df
    // shuffles): both shapes must agree to the published 4-dp rounding,
    // including repeated terms, absent terms, one-token docs, and docs
    // with no hits (absent from BOTH)
    val docs = Seq(
      (1L, "join join join pad pad"),
      (2L, "join"),
      (3L, "window dup dup window join"),
      (4L, "pad pad pad pad pad pad pad pad pad pad pad pad"),
      (5L, "dup"),
      (6L, "x")
    ).toDF("doc_id", "text")
    val terms = Seq("join", "dup", "window", "absentterm")
    val k1 = 1.2; val b = 0.75
    // the pre-restructure formulation, verbatim
    val toks = docs.select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    val lens = toks.select(col("doc_id"), size(col("toks")).cast("long").as("dl"))
    val stats = lens.agg(count(lit(1)).as("__n"), avg(col("dl")).as("__avgdl"))
    val hits = toks.select(col("doc_id"), explode(col("toks")).as("term"))
      .where(col("term").isin(terms: _*))
    val tf = hits.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfT = hits.select(col("doc_id"), col("term")).distinct()
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val reference = tf
      .join(broadcast(dfT), Seq("term"))
      .join(lens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"),
        (log(lit(1.0) + (col("__n") - col("df") + lit(0.5)) / (col("df") + lit(0.5))) *
          (col("tf") * lit(k1 + 1.0)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / col("__avgdl"))))
          .as("s"))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("s")), 4).as("bm25"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = CorpusOps.bm25(docs, "doc_id", "text", terms, k1, b)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got === reference)
  }

  test("importanceMass histogram shape equals the per-token reference") {
    // equivalence pin for the round-22 restructure (per-doc bucket
    // histogram shared between the bucket totals and the masses):
    // integer masses must be bit-identical to the direct per-token sum
    val docs = Seq(
      (1L, "alpha beta gamma alpha"),
      (2L, "beta beta beta"),
      (3L, "delta"),
      (4L, "alpha delta epsilon zeta eta theta iota kappa")
    ).toDF("doc_id", "text")
    val target = docs.where(col("doc_id") <= 2L)
    val buckets = 7 // tiny: forces collisions so k > 1 per (doc, bucket)
    def bucketOf(df: org.apache.spark.sql.DataFrame, keep: Seq[org.apache.spark.sql.Column]) =
      df.select(keep :+ explode(TextOps.tokens(col("text"))).as("__tok"): _*)
        .withColumn("__b",
          pmod(conv(substring(md5(col("__tok")), 1, 8), 16, 10).cast("long"),
            lit(buckets.toLong)))
        .drop("__tok")
    val ct = bucketOf(target, Seq.empty).groupBy(col("__b")).agg(count(lit(1)).as("__ct"))
    val srcToks = bucketOf(docs, Seq(col("doc_id")))
    val cs = srcToks.groupBy(col("__b")).agg(count(lit(1)).as("__cs"))
    val reference = srcToks
      .join(broadcast(ct), Seq("__b"), "left")
      .join(broadcast(cs), Seq("__b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(coalesce(col("__ct"), lit(0L)) + lit(1L)).as("target_mass"),
        sum(col("__cs") + lit(1L)).as("source_mass"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val got = CorpusOps.importanceMass(docs, target, "doc_id", "text", buckets)
      .select(col("doc_id"), col("n_tokens"), col("target_mass"), col("source_mass"))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got === reference)
  }

  test("packSequences: id-order offsets, straddlers bin by start, bins never cross shards") {
    // 3-token docs, bin of 8 tokens, shard of 4 docs
    val docs = (0L until 8L).map(i => (i, "tok tok tok")).toDF("doc_id", "text")
    val r = CorpusOps.packSequences(docs, "doc_id", "text", binTokens = 8, shardDocs = 4)
      .collect().map(x => x.getAs[Long]("doc_id") ->
        (x.getAs[Long]("shard"), x.getAs[Long]("offset"), x.getAs[String]("bin_id"))).toMap
    // shard 0: offsets 0,3,6,9 → bins 0,0,0,1 (doc 2 straddles 6..9 → bin of start 6)
    assert(r(0L) === ((0L, 0L, "0:0")))
    assert(r(1L) === ((0L, 3L, "0:0")))
    assert(r(2L) === ((0L, 6L, "0:0")))
    assert(r(3L) === ((0L, 9L, "0:1")))
    // shard 1 restarts at offset 0 — packing never crosses the shard line
    // (the shard:bin key cannot collide across shards at ANY bin count)
    assert(r(4L) === ((1L, 0L, "1:0")))
    assert(r(7L) === ((1L, 9L, "1:1")))
  }

  test("pplTiersApprox agrees with exact ntile away from boundary ties") {
    import org.apache.spark.sql.expressions.Window
    // two strata, 30 rows each, scores in three SEPARATED bands of ten
    // (gaps >> within-band spread): every tercile boundary falls in a
    // gap, so the approximate-boundary comparison must reproduce exact
    // ntile row-for-row — any disagreement is an operator bug, not an
    // approximation tie
    val rows = for {
      lang <- Seq("en", "de")
      i <- 0 until 30
    } yield (lang, (if (lang == "en") 0L else 100L) + i,
      (i / 10) * 50.0 + (i % 10) * 0.1 + (if (lang == "de") 7.0 else 0.0))
    val scored = rows.toDF("lang", "doc_id", "avg_nll")
    val approx = CorpusOps.pplTiersApprox(scored, "lang", "avg_nll")
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("tier")).toMap
    val w = Window.partitionBy(col("lang")).orderBy(col("avg_nll"), col("doc_id"))
    val exact = scored
      .withColumn("t", ntile(3).over(w))
      .withColumn("tier", when(col("t") === 1, "head")
        .when(col("t") === 2, "middle").otherwise("tail"))
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("tier")).toMap
    assert(approx === exact)
    // and the plan carries no window/sort — that is the point of it
    val plan = CorpusOps.pplTiersApprox(scored, "lang", "avg_nll")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"approx tiers must not plan a window:\n$plan")
  }

  test("removeDuplicatedPassages excises exactly the cross-document spans and rebuilds survivors") {
    val shared = (1 to 10).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, s"a1 a2 a3 $shared t1 t2"),   // shared passage mid-doc
      (2L, s"b1 b2 $shared c1"),         // same passage, different context
      (3L, "tiny text")                  // < n tokens: untouched
    ).toDF("doc_id", "text")
    val out = CorpusOps.removeDuplicatedPassages(docs, "doc_id", "text", n = 10)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("text_clean"), r.getAs[Long]("n_tokens"), r.getAs[Long]("n_removed"))))
      .toMap
    // only the exact 10-token window both docs share is duplicated —
    // windows straddling the context boundary exist in one doc only
    assert(out(1L) === (("a1 a2 a3 t1 t2", 15L, 10L)))
    assert(out(2L) === (("b1 b2 c1", 13L, 10L)))
    assert(out(3L) === (("tiny text", 2L, 0L)))
    // idempotent: a second pass over the cleaned text removes nothing
    val again = CorpusOps.removeDuplicatedPassages(
      docs.sparkSession.createDataFrame(
        out.toSeq.map { case (id, (t, _, _)) => (id, t) }).toDF("doc_id", "text"),
      "doc_id", "text", n = 10)
      .collect().map(_.getAs[Long]("n_removed")).sum
    assert(again === 0L)
  }

  test("mixToWeights: unweighted strata drop, the scarcest stratum caps the total, achieved mixture tracks the weights") {
    val docs = (0 until 1000).map { i =>
      val lang = if (i < 700) "en" else if (i < 900) "de" else "fr"
      (lang, i.toLong, s"d$i")
    }.toDF("lang", "doc_id", "text")
    // fr (100 rows) at weight 0.25 caps T at 400: expect ~en 200, de
    // 100, fr 100; zh-style unweighted strata would drop (none here,
    // so drop 'en' instead in a second call)
    val out = CorpusOps.mixToWeights(docs, "lang", "doc_id",
      Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25))
    val byLang = out.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLang.keySet === Set("en", "de", "fr"))
    // fr keeps everything (it is the cap); others downsample toward
    // the weights with md5-uniform noise
    assert(byLang("fr") === 100)
    assert(math.abs(byLang("en") - 200) < 40, s"en ~200: $byLang")
    assert(math.abs(byLang("de") - 100) < 30, s"de ~100: $byLang")
    // strata without a weight leave the mixture entirely
    val noEn = CorpusOps.mixToWeights(docs, "lang", "doc_id",
      Map("de" -> 0.5, "fr" -> 0.5))
    assert(noEn.where(col("lang") === "en").count() === 0)
    // determinism: same rows on every run
    val again = CorpusOps.mixToWeights(docs, "lang", "doc_id",
      Map("en" -> 0.5, "de" -> 0.25, "fr" -> 0.25))
    assert(out.select("doc_id").except(again.select("doc_id")).isEmpty)
    intercept[IllegalArgumentException] {
      CorpusOps.mixToWeights(docs, "lang", "doc_id", Map("en" -> -0.1))
    }
  }

  test("importanceMass: target-aligned documents outrank off-target ones; masses are exact and deterministic") {
    val target = (0 until 50).map(i => (i.toLong, "alpha beta gamma delta"))
      .toDF("doc_id", "text")
    val docs = Seq(
      (1L, "alpha beta gamma"),            // fully on-target vocabulary
      (2L, "alpha zzz yyy"),               // partial
      (3L, "zzz yyy xxx www"))             // disjoint
      .toDF("doc_id", "text")
    val out = CorpusOps.importanceMass(docs, target, "doc_id", "text", buckets = 64)
      .orderBy(col("doc_id")).collect()
    val imp = out.map(r => r.getAs[Long]("doc_id") -> r.getAs[Double]("importance")).toMap
    assert(imp(1L) > imp(2L) && imp(2L) > imp(3L),
      s"on-target text must score higher: $imp")
    // masses are exact integers: doc 1's three tokens each hit a
    // target bucket with count 50 → target_mass = 3*(50+1)
    val m1 = out.find(_.getAs[Long]("doc_id") == 1L).get
    assert(m1.getAs[Long]("target_mass") === 153L)
    assert(m1.getAs[Long]("n_tokens") === 3L)
    // rerun is bit-identical
    val again = CorpusOps.importanceMass(docs, target, "doc_id", "text", buckets = 64)
      .orderBy(col("doc_id")).collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("pplTiersApprox keeps null-stratum rows (null-safe bounds join)") {
    // the exact ntile variant tiers a null stratum as its own window
    // partition; the approx variant must not silently drop those rows
    // in its bounds equi-join
    val rows = Seq(
      (Option("en"), 1L, 1.0), (Option("en"), 2L, 2.0), (Option("en"), 3L, 3.0),
      (Option.empty[String], 11L, 1.0), (None: Option[String], 12L, 2.0),
      (None: Option[String], 13L, 3.0))
    val scored = rows.toDF("lang", "doc_id", "avg_nll")
    val out = CorpusOps.pplTiersApprox(scored, "lang", "avg_nll")
    assert(out.count() === 6)
    val nullTiers = out.where(col("lang").isNull)
      .collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("tier")).toMap
    assert(nullTiers === Map(11L -> "head", 12L -> "middle", 13L -> "tail"))
  }
}
