package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops.Dedup

/** Stage-by-stage measurement tool (kept, like Explain/ScalingProbe;
  * never driver-run and never on a query path): per-job breakdowns of
  * one gate query (QUERY=), plus the scale-envelope probes (DEDUP=,
  * STRESS=, SEMSTRESS=, INCSTRESS=, LAKESTRESS=, DELTACHAIN=,
  * MANIFESTREAD=, CLONE=, DEEPCLONE=, MANIFESTSTRESS=).
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // honor the driver's core-count contract like Bench/Verify (default
    // 32 = this sandbox's cores); never hardcode the master
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[A](label: String)(f: => A): A = {
      val t0 = System.nanoTime(); val r = f
      println(f"PROFILE $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    // QUERY=<name>[,warm=sfDir]: per-JOB breakdown of one SparkEntry
    // query — the measurement the bench's single wall number can't give.
    // Runs the query once on sf0.001 (JIT/codegen warm, mirroring the
    // bench), then once on sfDir under a listener that logs every job's
    // wall, stage/task counts, executor run+CPU time, and shuffle bytes.
    // At toy SF a query whose executor time is a small fraction of its
    // wall is JOB-LATENCY-bound (scheduling, AQE re-planning, driver
    // work), not compute-bound — the distinction that decides whether
    // an optimization should target the plan or the per-row work.
    sys.env.get("QUERY").foreach { qname =>
      val fn = SparkEntry.queries.getOrElse(qname,
        sys.error(s"unknown query $qname"))
      try { fn(spark, "/root/testdata/sf0.001").count(); () }
      catch { case _: Throwable => () }
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      case class J(id: Int, t0: Long, var t1: Long = 0L, var stages: Int = 0,
                   var tasks: Int = 0, var runMs: Long = 0L, var cpuNs: Long = 0L,
                   var shufR: Long = 0L, var shufW: Long = 0L)
      val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
      val stageToJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            jobs.put(e.jobId, J(e.jobId, e.time))
            e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
          }
          override def onJobEnd(e: org.apache.spark.scheduler.SparkListenerJobEnd): Unit =
            Option(jobs.get(e.jobId)).foreach(_.t1 = e.time)
          override def onStageCompleted(
              e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
            Option(stageToJob.get(e.stageInfo.stageId))
              .flatMap(j => Option(jobs.get(j))).foreach(_.stages += 1)
          override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
            Option(stageToJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
              .foreach { j =>
                j.tasks += 1
                val m = e.taskMetrics
                if (m != null) {
                  j.runMs += m.executorRunTime
                  j.cpuNs += m.executorCpuTime
                  j.shufR += m.shuffleReadMetrics.totalBytesRead
                  j.shufW += m.shuffleWriteMetrics.bytesWritten
                }
              }
        })
      val t0 = System.nanoTime()
      val df = fn(spark, sfDir)
      // execute the query's OWN plan (not a count() wrapper) so the
      // AQE-final executedPlan — with ReusedExchange / AQEShuffleRead
      // nodes — is inspectable afterwards under PLANFINAL=1
      val rows = df.queryExecution.executedPlan.execute().count()
      val wall = (System.nanoTime() - t0) / 1e9
      if (sys.env.contains("PLANFINAL"))
        println(df.queryExecution.executedPlan.toString)
      Thread.sleep(500) // drain listener events
      val js = jobs.values().toArray(Array.empty[J]).sortBy(_.id)
      println(f"PROFILE QUERY $qname rows=$rows wall=$wall%.2f s jobs=${js.length}")
      js.foreach { j =>
        println(f"PROFILE job=${j.id}%-4d wall=${(j.t1 - j.t0) / 1000.0}%7.2f s " +
          f"stages=${j.stages}%-3d tasks=${j.tasks}%-5d execRun=${j.runMs / 1000.0}%7.2f s " +
          f"execCpu=${j.cpuNs / 1e9}%7.2f s shufR=${j.shufR / 1e6}%8.2f MB shufW=${j.shufW / 1e6}%8.2f MB")
      }
      val sumRun = js.map(_.runMs).sum / 1000.0
      val sumGap = wall - js.map(j => (j.t1 - j.t0) / 1000.0).sum
      println(f"PROFILE QUERY $qname total execRun=$sumRun%.2f s, wall outside jobs=$sumGap%.2f s")
      spark.stop(); sys.exit(0)
    }

    val docs = Tables.documents(spark, sfDir)
    val n = docs.count()
    val avgLen = docs.agg(avg(length(col("text")))).head().getDouble(0)
    println(s"PROFILE docs=$n avgLen=$avgLen")

    // DEDUP=N: the MinHash/LSH scale ENVELOPE at the ~N-doc shape —
    // the LLM-ops twin of the DELTACHAIN manifest probe. Replicates
    // the corpus to ~N docs in ONE explode branch (per-replica
    // perturbed text: dense near-dup clusters, the banded-LSH worst
    // case the bucket cap exists for), then walks the dedup pipeline
    // stage by stage publishing rows, wall, and SHUFFLE BYTES per
    // stage. This is the published evidence that "banded, never
    // all-pairs" holds off the toy SF: band rows must grow exactly
    // linearly in N (docs x bands), candidate pairs near-linearly
    // (the cap bounds every bucket), and shuffle volume ~linearly —
    // a quadratic anywhere surfaces as superlinear bytes long before
    // it surfaces as wall-clock on a big cluster.
    sys.env.get("DEDUP").map(_.toLong).foreach { n =>
      import graft.ops.Dedup
      graft.functions.GraftFunctions.register(spark)
      val shufRead = new java.util.concurrent.atomic.AtomicLong
      val shufWrite = new java.util.concurrent.atomic.AtomicLong
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onTaskEnd(
              te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
            val m = te.taskMetrics
            if (m != null) {
              shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
              shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten): Unit
            }
          }
        })
      val k = math.max(1L, math.ceil(n.toDouble / docs.count()).toLong).toInt
      val corpus = (if (k == 1) docs.select(col("doc_id"), col("text"))
        else docs
          .select(col("doc_id"), col("text"),
            explode(sequence(lit(0), lit(k - 1))).as("__i"))
          .select((col("doc_id") * k + col("__i")).as("doc_id"),
            concat(col("text"), lit(" rep"), col("__i")).as("text")))
        .repartition(spark.sparkContext.defaultParallelism)
        .persist()
      val nDocs = corpus.count()
      def stage(label: String)(f: => Long): Unit = {
        val r0 = shufRead.get(); val w0 = shufWrite.get()
        val t0 = System.nanoTime()
        val rows = f
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // let straggler task-end events post
        println(f"PROFILE DEDUP n=$nDocs stage=$label%-12s rows=$rows%-12d " +
          f"wall=$wall%8.2f s  shufRead=${(shufRead.get() - r0) / 1e6}%9.1f MB  " +
          f"shufWrite=${(shufWrite.get() - w0) / 1e6}%9.1f MB")
      }
      val tAll0 = System.nanoTime()
      val sh = Dedup.shingleSet(corpus, "doc_id", "text", 8)
      stage("shingles")(sh.count())
      val sig = Dedup.minhashSignature(sh, "doc_id", 8).persist()
      stage("signature")(sig.count())
      val bands = Dedup.lshBands(sig, "doc_id", 8, 2)
      stage("bands")(bands.count())
      stage("candidates")(
        Dedup.candidatePairs(bands, "doc_id", maxBucket = Some(32)).count())
      sig.unpersist()
      stage("full_dedup")(Dedup.deduplicate(corpus, "doc_id", "text",
        minJaccard = 0.5, maxBucket = Some(32)).count())
      println(f"PROFILE DEDUP n=$nDocs TOTAL ${(System.nanoTime() - tAll0) / 1e9}%8.2f s " +
        s"(stages re-run the upstream plan where not persisted; " +
        s"full_dedup is the end-to-end operator wall)")
      spark.stop(); sys.exit(0)
    }

    // STRESS=K: dedup scaling check — replicate the corpus K× with
    // per-replica perturbed text (dense near-dup clusters, the LSH
    // worst case the bucket cap exists for) and compare wall-clock of
    // the full dedup at 1× vs K×.
    sys.env.get("STRESS").map(_.toInt).foreach { k =>
      def dedupTime(d: org.apache.spark.sql.DataFrame): Double = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val out = graft.ops.Dedup.deduplicate(d, "doc_id", "text",
          minJaccard = 0.5, maxBucket = Some(32)).count()
        val t = (System.nanoTime() - t0) / 1e9
        println(f"PROFILE dedup n=${d.count()}%-8d survivors=$out%-8d $t%8.2f s")
        t
      }
      val t1 = dedupTime(docs)
      val big = (0 until k).map(i =>
        docs.select(
          (col("doc_id") * k + i).as("doc_id"),
          concat(col("text"), lit(s" replica$i")).as("text")))
        .reduce(_.unionAll(_))
        .repartition(spark.sparkContext.defaultParallelism)
      val tk = dedupTime(big)
      println(f"PROFILE stress ${k}x scaling factor = ${tk / t1}%.1f (ideal $k.0, quadratic ${k * k}.0)")
      spark.stop(); sys.exit(0)
    }

    // SEMSTRESS=K: semantic-dedup scaling check — replicate the
    // embedding table K× with per-replica perturbed vectors (every
    // original spawns a K-member near-identical cluster) and scale the
    // cell count with the corpus (cells ∝ n keeps per-cell population
    // constant — the knob that makes cell-local pairwise linear).
    sys.env.get("SEMSTRESS").map(_.toInt).foreach { k =>
      val emb = Tables.embeddings(spark, sfDir)
      def semTime(d: org.apache.spark.sql.DataFrame, cells: Int): Double = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val out = graft.ops.Similarity.semanticDedup(d, "vec_id", "embedding",
          k = cells, iters = 2, minCos = 0.99).count()
        val t = (System.nanoTime() - t0) / 1e9
        println(f"PROFILE semdedup n=${d.count()}%-8d cells=$cells%-5d survivors=$out%-8d $t%8.2f s")
        t
      }
      val t1 = semTime(emb, 8)
      val big = (0 until k).map(i =>
        emb.select(
          (col("vec_id") * k + i).as("vec_id"),
          transform(col("embedding"), x => (x + lit(i * 1e-4f)).cast("float"))
            .as("embedding"),
          col("label")))
        .reduce(_.unionAll(_))
        .repartition(spark.sparkContext.defaultParallelism)
      val tk = semTime(big, 8 * k)
      println(f"PROFILE semstress ${k}x scaling factor = ${tk / t1}%.1f (ideal $k.0, quadratic ${k * k}.0)")
      spark.stop(); sys.exit(0)
    }

    // INCSTRESS=K: incremental-dedup scaling check — batch replicated
    // K× against the fixed corpus; the corpus-side model cost is paid
    // once, so wall-clock should grow sublinearly in K.
    sys.env.get("INCSTRESS").map(_.toInt).foreach { k =>
      def incTime(b: org.apache.spark.sql.DataFrame): Double = {
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val out = graft.ops.Dedup.dedupAgainstCorpus(b, docs, "doc_id", "text",
          minJaccard = 0.5, maxBucket = Some(32)).count()
        val t = (System.nanoTime() - t0) / 1e9
        println(f"PROFILE incdedup batch=${b.count()}%-8d survivors=$out%-8d $t%8.2f s")
        t
      }
      val batch1 = docs.select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" recrawl")).as("text"))
      val t1 = incTime(batch1)
      val bigBatch = (0 until k).map(i =>
        docs.select(
          (col("doc_id") * k + i + 2000000L).as("doc_id"),
          concat(col("text"), lit(s" recrawl$i")).as("text")))
        .reduce(_.unionAll(_))
        .repartition(spark.sparkContext.defaultParallelism)
      val tk = incTime(bigBatch)
      println(f"PROFILE incstress ${k}x scaling factor = ${tk / t1}%.1f (ideal $k.0)")
      spark.stop(); sys.exit(0)
    }

    // LAKESTRESS=K: lake write/read scaling check — build the annotated
    // lake from the reference fixtures, amplify the pre-write table to
    // K/10× and K× (per-replica position shift: buckets mostly overlap,
    // so rows-per-partition-directory grow ~linearly — the shape that
    // stresses the D1 repartition shuffle, the D5 bucket derivation,
    // maxRecordsPerFile splitting, and point-lookup pruning on the way
    // back). Reports the big/base wall-clock ratio vs the ideal 10.
    sys.env.get("LAKESTRESS").map(_.toInt).foreach { k =>
      import graft.etl.{Fixtures, Lake}
      val base = math.max(k / 10, 1)
      val lake = Lake.build(spark, Fixtures.hg19Vcfs, Fixtures.hg19Impact,
        Fixtures.hg19DbSnp, t2t = false, Fixtures.gnomadHg38, Fixtures.alphaHg19)
        .persist()
      println(s"PROFILE lake rows = ${lake.count()}")
      // ONE plan branch (explode), not a times-way union: a union of
      // hundreds of replicas makes the PLAN itself the bottleneck
      // (multi-MB task binaries, minutes of codegen) and measures the
      // profiler, not the engine
      def amplified(times: Int): org.apache.spark.sql.DataFrame =
        lake
          .select(col("chrom"), col("pos"), col("entries"),
            explode(sequence(lit(0L), lit(times - 1L))).as("__i"))
          .withColumn("pos", (col("pos") + col("__i") * lit(1000L)).cast("long"))
          .withColumn("pos_bucket", floor(col("pos") / lit(Lake.PartitionSize)))
          .drop("__i")
      val probeKey = lake.select(col("chrom"), col("pos_bucket")).head()
      def roundTrip(times: Int): Double = {
        val df = amplified(times).persist()
        val rows = df.count() // materialize OUTSIDE the timed window
        val out = java.nio.file.Files.createTempDirectory("lakeprofile").toString + "/lake"
        val t0 = System.nanoTime()
        Lake.write(df, out)
        val full = spark.read.parquet(out).count()
        val t = (System.nanoTime() - t0) / 1e9
        // point lookup must prune to one partition directory regardless
        // of lake size — timed separately
        val t1 = System.nanoTime()
        val probe = spark.read.parquet(out)
          .where(col("chrom") === probeKey.getString(0) &&
            col("pos_bucket") === probeKey.getLong(1))
          .count()
        val tProbe = (System.nanoTime() - t1) / 1e9
        println(f"PROFILE lake ${times}x rows=$rows read=$full write+readback $t%8.2f s  point-probe($probe rows) $tProbe%6.3f s")
        df.unpersist()
        t
      }
      val t1 = roundTrip(base)
      val tk = roundTrip(k)
      println(f"PROFILE lakestress ${k}x/${base}x scaling factor = ${tk / t1}%.1f (ideal ${k / base}.0)")
      spark.stop(); sys.exit(0)
    }

    // DELTACHAIN=N: segmented-manifest cost check at the 100 TB shape —
    // an N-file table takes a full-snapshot commit, then CheckpointInterval-1
    // delta commits each touching 10 files. Reports per-commit bytes and
    // wall for the snapshot vs the deltas (the number the segmentation
    // exists for), plus the cold chain-resolution read at head and the
    // cached re-read (what repeated query planning pays).
    sys.env.get("DELTACHAIN").map(_.toInt).foreach { n =>
      import graft.etl.ManifestLake
      import org.apache.hadoop.fs.Path
      val dir = java.nio.file.Files.createTempDirectory("dchain").toString + "/t"
      val (fs, root) = ManifestLake.fsFor(spark, dir)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("lang", "string").add("doc_id", "long").add("n_chars", "long")
      def file(i: Int, gen: Int) =
        ManifestLake.LiveFile(1000000L + i,
          f"data/v${gen + 1}%06d/lang=l${i % 32}%02d/part-$i%08d-c000.snappy.parquet",
          Map("doc_id" -> ((i * 100L).toString, (i * 100L + 99L).toString),
            "n_chars" -> ("12", "87431")))
      var files = (0 until n).map(file(_, 0))
      val t0 = System.nanoTime()
      ManifestLake.publish(fs, root, 1L, ManifestLake.Manifest(schema, Seq("lang"), files))
      val tSnap = (System.nanoTime() - t0) / 1e9
      def bytesOf(v: Long) = {
        val gz = fs.getFileStatus(
          new Path(root, f"_manifest/v$v%06d.list.gz")).getLen
        // a sharded checkpoint's real footprint is its parquet shards
        val shards = fs.listStatus(new Path(root, "_manifest"))
          .filter(st => st.isDirectory &&
            st.getPath.getName.startsWith(f"ckpt-v$v%06d"))
          .flatMap(d => fs.listStatus(d.getPath)).map(_.getLen).sum
        gz + shards
      }
      val snapBytes = bytesOf(1L)
      val hops = ManifestLake.CheckpointInterval - 1
      val deltaStats = (1 to hops).map { k =>
        // each commit rewrites 10 files (5 dropped, 10 added elsewhere
        // in the keyspace) — the steady-stream append/upsert shape.
        // The committer knows its own delta (exactly as the real
        // commit paths do), so the hint rides along: per-commit work
        // is O(changed), never O(live).
        val dropped = files.take(5).map(_.path)
        val added = (0 until 10).map(j => file(n + k * 100 + j, k))
        files = files.drop(5) ++ added
        val t = System.nanoTime()
        ManifestLake.publish(fs, root, k + 1L,
          ManifestLake.Manifest(schema, Seq("lang"), files),
          deltaHint = Some((added, dropped)))
        ((System.nanoTime() - t) / 1e9, bytesOf(k + 1L))
      }
      val head = hops + 1L
      // fresh-reader cold parse: a driver that has never seen the chain
      // pays checkpoint parse + every delta in the chain, once
      ManifestLake.clearManifestCache()
      val reads = (1 to 3).map { _ =>
        val t = System.nanoTime()
        val m = ManifestLake.readManifest(fs, root, head)
        require(m.files.length == files.length && m.chain == hops)
        (System.nanoTime() - t) / 1e9
      }
      println(f"PROFILE deltachain n=$n snapshot=${snapBytes / 1048576.0}%.1fMB/" +
        f"$tSnap%.2fs delta_avg=${deltaStats.map(_._2).sum / hops / 1024.0}%.1fKB/" +
        f"${deltaStats.map(_._1).sum / hops}%.3fs " +
        f"(x${snapBytes.toDouble * hops / deltaStats.map(_._2).sum}%.0f smaller) " +
        f"read_cold=${reads.head}%.2fs read_cached=${reads.min}%.4fs")
      spark.stop(); sys.exit(0)
    }

    // MANIFESTREAD=N: manifest ENCODING check at the flat-list comfort
    // boundary — publish a synthetic N-line manifest (realistic path +
    // stats shapes) and report the artifact size plus parse wall-clock,
    // gz vs the uncompressed body. This is the measurement behind
    // keeping the single-level gzipped list instead of Iceberg-style
    // per-partition manifest sharding: if a 1M-line manifest reads in
    // well under a second and ships in a few MB, sharding buys nothing
    // at this design's stated scale ceiling.
    sys.env.get("MANIFESTREAD").map(_.toInt).foreach { n =>
      import graft.etl.ManifestLake
      import org.apache.hadoop.fs.Path
      val dir = java.nio.file.Files.createTempDirectory("mread").toString + "/t"
      val (fs, root) = ManifestLake.fsFor(spark, dir)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("lang", "string").add("doc_id", "long").add("n_chars", "long")
      val files = (0 until n).map { i =>
        ManifestLake.LiveFile(1000000L + i,
          f"data/v${i % 512 + 1}%06d/lang=l${i % 32}%02d/part-$i%08d-c000.snappy.parquet",
          Map("doc_id" -> ((i * 100L).toString, (i * 100L + 99L).toString),
            "n_chars" -> ("12", "87431")))
      }
      val t0 = System.nanoTime()
      ManifestLake.publish(fs, root, 1L, ManifestLake.Manifest(schema, Seq("lang"), files))
      val tPub = (System.nanoTime() - t0) / 1e9
      val gzBytes = fs.getFileStatus(
        new Path(root, "_manifest/v000001.list.gz")).getLen
      // decompressed size = what an uncompressed manifest would ship
      val plainBytes = {
        val in = new java.util.zip.GZIPInputStream(
          fs.open(new Path(root, "_manifest/v000001.list.gz")))
        try Iterator.continually(in.read(new Array[Byte](1 << 16)))
          .takeWhile(_ >= 0).map(_.toLong).sum
        finally in.close()
      }
      val reads = (1 to 3).map { _ =>
        val t = System.nanoTime()
        val m = ManifestLake.readManifest(fs, root, 1L)
        require(m.files.length == n && m.schema == schema)
        (System.nanoTime() - t) / 1e9
      }
      // first read is the cold parse; later reads hit the immutable-
      // manifest cache (what repeated query planning actually pays)
      println(f"PROFILE manifestread n=$n gz=${gzBytes / 1048576.0}%.1fMB " +
        f"plain=${plainBytes / 1048576.0}%.1fMB ratio=${plainBytes.toDouble / gzBytes}%.1fx " +
        f"publish=$tPub%.2fs read_cold=${reads.head}%.2fs read_cached=${reads.min}%.4fs")
      spark.stop(); sys.exit(0)
    }

    // CLONE=N: shallow-clone cost at the 100 TB shape — the clone of an
    // N-file table must cost ONE manifest write (absolutizing N entries
    // + publish), never data movement, and the clone must plan reads
    // like the source (cold parse of its own manifest).
    sys.env.get("CLONE").map(_.toInt).foreach { n =>
      import graft.etl.ManifestLake
      val dir = java.nio.file.Files.createTempDirectory("clonesrc").toString + "/t"
      val tgt = java.nio.file.Files.createTempDirectory("clonetgt").toString + "/t"
      val (fs, root) = ManifestLake.fsFor(spark, dir)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("lang", "string").add("doc_id", "long").add("n_chars", "long")
      val files = (0 until n).map { i =>
        ManifestLake.LiveFile(1000000L + i,
          f"data/v${i % 512 + 1}%06d/lang=l${i % 32}%02d/part-$i%08d-c000.snappy.parquet",
          Map("doc_id" -> ((i * 100L).toString, (i * 100L + 99L).toString)))
      }
      ManifestLake.publish(fs, root, 1L, ManifestLake.Manifest(schema, Seq("lang"), files))
      val t0 = System.nanoTime()
      ManifestLake.shallowClone(spark, dir, tgt)
      val tClone = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val (tfs, troot) = ManifestLake.fsFor(spark, tgt)
      val m = ManifestLake.readManifest(tfs, troot, 1L)
      require(m.files.length == n &&
        m.files.forall(f => new org.apache.hadoop.fs.Path(f.path).isAbsolute ||
          f.path.contains(":/")))
      val tRead = (System.nanoTime() - t1) / 1e9
      println(f"PROFILE clone n=$n clone=$tClone%.2fs clone_cold_read=$tRead%.2fs")
      spark.stop(); sys.exit(0)
    }

    // DEEPCLONE=N: deep-clone FABRIC cost at scale — the per-file
    // overhead of the distributed copy job (task scheduling + one
    // FileSystem copy + the re-pathed publish), measured with N real
    // tiny files so byte volume is ~0 and the overhead is isolated.
    // At real scale the byte volume dominates (copying is
    // bandwidth-bound by construction — one job, cluster-wide); this
    // probe pins the fixed cost that would remain on a 1M-file table.
    sys.env.get("DEEPCLONE").map(_.toInt).foreach { n =>
      import graft.etl.ManifestLake
      val dir = java.nio.file.Files.createTempDirectory("dclonesrc").toString + "/t"
      val tgt = java.nio.file.Files.createTempDirectory("dclonetgt").toString + "/t"
      val (fs, root) = ManifestLake.fsFor(spark, dir)
      val schema = new org.apache.spark.sql.types.StructType()
        .add("lang", "string").add("doc_id", "long")
      val payload = Array.fill[Byte](128)(42)
      val files = (0 until n).map { i =>
        val rel = f"data/v${i % 64 + 1}%06d/lang=l${i % 32}%02d/part-$i%08d-c000.snappy.parquet"
        val p = new org.apache.hadoop.fs.Path(root, rel)
        val out = fs.create(p, true)
        out.write(payload); out.close()
        ManifestLake.LiveFile(128L, rel)
      }
      ManifestLake.publish(fs, root, 1L, ManifestLake.Manifest(schema, Seq("lang"), files))
      // driver-side baseline: the raw single-thread FileUtil.copy cost
      // on this filesystem, to separate fabric overhead from fs cost
      val baseDir = new org.apache.hadoop.fs.Path(root, "basep")
      val bConf = spark.sessionState.newHadoopConf()
      val tb = System.nanoTime()
      (0 until 200).foreach { i =>
        org.apache.hadoop.fs.FileUtil.copy(fs,
          new org.apache.hadoop.fs.Path(root, files(i).path), fs,
          new org.apache.hadoop.fs.Path(baseDir, s"b$i"), false, true, bConf): Unit
      }
      val perCopyUs = (System.nanoTime() - tb) / 1e3 / 200
      val t0 = System.nanoTime()
      ManifestLake.deepClone(spark, dir, tgt)
      val tClone = (System.nanoTime() - t0) / 1e9
      val (tfs, troot) = ManifestLake.fsFor(spark, tgt)
      val m = ManifestLake.readManifest(tfs, troot, 1L)
      require(m.files.length == n && m.files.forall(f =>
        !new org.apache.hadoop.fs.Path(f.path).isAbsolute && !f.path.contains(":/")))
      require(m.files.forall(f =>
        tfs.exists(new org.apache.hadoop.fs.Path(troot, f.path))))
      println(f"PROFILE deepclone n=$n wall=$tClone%.2fs " +
        f"per_file_us=${tClone * 1e6 / n}%.1f raw_copy_us=$perCopyUs%.1f")
      spark.stop(); sys.exit(0)
    }

    // MANIFESTSTRESS=K: manifest-lake scaling check — full lifecycle
    // (fragmented write → 10% keyed upsert → compact → vacuum) on the
    // documents table at 1× and K×. Upsert should scale with the BATCH
    // and the affected partitions, not the table; compact with the
    // fragmented bytes; inventory/detection with the manifest line
    // count only.
    sys.env.get("MANIFESTSTRESS").map(_.toInt).foreach { k =>
      import graft.etl.ManifestLake
      def wall(f: => Unit): Double = {
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
      }
      def lifecycle(d: org.apache.spark.sql.DataFrame, tag: String): Double = {
        val df = d.persist(); val n = df.count() // materialize outside timing
        val dir = java.nio.file.Files.createTempDirectory(s"mstress$tag")
          .toString + "/t"
        val tWrite = wall { ManifestLake.write(spark, df.repartition(24), dir, Seq("lang")); () }
        // compact the FRAGMENTED v1 (upsert would consolidate affected
        // partitions first and leave compact nothing to do)
        val tCompact = wall { ManifestLake.compact(spark, dir, targetBytes = 1L << 26); () }
        val batch = df.where(pmod(col("doc_id"), lit(10L)) === 0)
          .withColumn("n_chars", lit(-1L))
        val tUpsert = wall {
          ManifestLake.upsert(spark, dir, batch, Seq("lang"), Seq("lang", "doc_id")); ()
        }
        val tInv = wall { ManifestLake.inventory(spark, dir).count(); () }
        val tVac = wall { ManifestLake.vacuum(spark, dir, keepVersions = 1); () }
        val total = tWrite + tUpsert + tCompact
        println(f"PROFILE manifest $tag%-4s n=$n%-8d write=$tWrite%6.2f upsert=$tUpsert%6.2f " +
          f"compact=$tCompact%6.2f inventory=$tInv%6.3f vacuum=$tVac%6.2f s")
        df.unpersist()
        total
      }
      // one untimed lifecycle first: the 1× run must not pay JVM and
      // Spark warm-up, or the factor measures warm-up, not scaling
      lifecycle(docs, "warm")
      val t1 = lifecycle(docs, "1x")
      val big = docs
        .select(col("doc_id"), col("lang"), col("n_chars"), col("text"),
          explode(sequence(lit(0L), lit(k - 1L))).as("__i"))
        .select((col("doc_id") * k + col("__i")).as("doc_id"), col("lang"),
          col("n_chars"), concat(col("text"), col("__i").cast("string")).as("text"))
        .repartition(spark.sparkContext.defaultParallelism)
      val tk = lifecycle(big, s"${k}x")
      println(f"PROFILE manifeststress ${k}x scaling factor = ${tk / t1}%.1f (ideal $k.0)")

      // COMMIT-COUNT scaling of the read path: land the corpus as N
      // sequential appends, then time planning+running an aggregate
      // over the table. The single-scan manifest read should be FLAT
      // in commit count; the per-commit grouped union it replaced is
      // the growth curve.
      import graft.etl.ManifestLake
      def manyCommits(nCommits: Int): String = {
        val dir = java.nio.file.Files.createTempDirectory(s"mcommits$nCommits")
          .toString + "/t"
        (0 until nCommits).foreach { i =>
          ManifestLake.write(spark,
            docs.where(pmod(col("doc_id"), lit(nCommits.toLong)) === i),
            dir, Seq("lang"), replace = i == 0)
        }
        dir
      }
      Seq(8, 64).foreach { n =>
        val dir = manyCommits(n)
        def agg(df: org.apache.spark.sql.DataFrame): Unit = {
          df.groupBy(col("lang")).agg(sum(col("n_chars"))).count(); ()
        }
        val tScan = wall { agg(ManifestLake.read(spark, dir)) }
        // the replaced shape, reconstructed: one read per commit dir,
        // left-deep unionByName (what every read used to plan); a
        // commit dir is the whole `data/v<N>-<token>` segment
        val byCommit = ManifestLake.read(spark, dir).inputFiles.toSeq
          .groupBy { f =>
            val seg = f.indexOf("/data/v") + "/data/".length
            f.substring(0, f.indexOf('/', seg))
          }.toSeq.sortBy(_._1)
        val tUnion = wall {
          agg(byCommit.map { case (commitDir, fls) =>
            spark.read.option("basePath", commitDir).parquet(fls: _*)
          }.reduce(_ unionByName _))
        }
        println(f"PROFILE manifest read @ $n%3d commits: single-scan=$tScan%6.2f s, " +
          f"grouped-union=$tUnion%6.2f s (${tUnion / tScan}%.1fx)")
      }
      spark.stop(); sys.exit(0)
    }

    // warm JIT
    Dedup.shingleArrays(docs, "doc_id", "text", 8).count()

    val sets = time("shingleArrays materialize") {
      val s = Dedup.shingleArrays(docs, "doc_id", "text", 8).persist()
      s.count(); s
    }
    val totalShingles = sets.agg(sum(size(col("shs")))).head().getLong(0)
    println(s"PROFILE distinct (doc,shingle) rows = $totalShingles")

    val sig = time("signature from sets") {
      val s = Dedup.minhashSignature(
        sets.select(col("doc_id"), explode(col("shs")).as("sh")), "doc_id", 8).persist()
      s.count(); s
    }
    time("signature direct (q21 path)") {
      Dedup.minhashSignatureDirect(docs, "doc_id", "text", 8, 8).count()
    }
    val cand = time("candidatePairs") {
      val c = Dedup.candidatePairs(Dedup.lshBands(sig, "doc_id", 8, 2), "doc_id",
        maxBucket = Some(32)).persist()
      println(s"PROFILE n_candidates = ${c.count()}")
      c
    }
    time("jaccardVerifySets") {
      Dedup.jaccardVerifySets(cand, sets, "doc_id", 0.2).count()
    }
    time("jaccardVerifySets run2") {
      Dedup.jaccardVerifySets(cand, sets, "doc_id", 0.2).count()
    }
    println("PLAN-CAND:")
    Dedup.candidatePairs(Dedup.lshBands(sig, "doc_id", 8, 2), "doc_id",
      maxBucket = Some(32)).explain("formatted")
    spark.stop()
  }
}
