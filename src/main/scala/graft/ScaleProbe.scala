package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only scale probe (not part of the driver contract): the
  * harness ships sf0.1 as its largest dataset, so the 100×-design
  * claims of the dedup/ANN family are substantiated by synthesizing a
  * larger corpus and timing the operators on it. Two depths:
  *
  *   - 10× (default, sf1-equivalent: 50k docs / 20k vectors / 1M
  *     events) — the full dedup/ANN/funnel family.
  *   - 100× (`ScaleProbe <reps> 100`, sf10-equivalent: ~500k docs /
  *     200k vectors) — the core near-dup chain one order deeper
  *     (d_minhash_lsh, d_jaccard_pairs, d_dup_clusters), plus a leg
  *     with a lowered block cap so the Jaccard hot-block → MinHash
  *     rescue actually fires on real over-cap blocks at this scale.
  *
  * Corpus construction is deterministic: replica i of a document gets
  * doc_id + i·(max source id + 1) and every token suffixed with a
  * replica tag (regexp_replace), so cross-replica Jaccard is exactly
  * 0 — the true-duplicate structure scales linearly (N× blocks, N×
  * pairs), which is the honest scaling question. (A first attempt
  * used a consonant `translate`; this corpus's short vocabulary
  * mostly survived it, silently merging min-shingle blocks across
  * replicas into 100× candidate counts — a useful stress, but not the
  * linear-scaling measurement.) Replica id offsets are derived from
  * the source's own max id, never fixed constants — a fixed offset
  * silently collides once the source outgrows it, merging replica
  * state with no error. Embedding replicas keep their vectors (denser
  * clusters — the realistic shape for a larger corpus) under shifted
  * ids.
  *
  * Usage: ScaleProbe [reps] [scale] — writes parquet under
  * /tmp/sf{1,10}probe once, then times the family and prints plan
  * audit lines.
  */
object ScaleProbe {

  val ProbeDir = "/tmp/sf1probe"
  val Queries = Seq("d_minhash_lsh", "d_jaccard_pairs",
    "d_jaccard_prefix", "d_dup_clusters", "s_ann_ivf_kmeans",
    // round-4 additions: d_semdedup is the interesting one (its
    // within-cluster pair join is Σ|cluster|² — at 10× with k fixed
    // at 8 this measures the WORST case, clusters 10× oversized;
    // production raises k with N)
    "d_semdedup", "d_span_dedup", "d_lm_score",
    // second-half round-4 additions. s_ann_recall is deliberately NOT
    // probed: its brute-force ground-truth leg is the documented
    // O(queries·corpus) baseline and the query set scales with the
    // corpus here (vec_id % 40), so 10× data = 100× work by design —
    // at scale recall is estimated on a fixed query sample (see its
    // scaladoc), which the probe corpus can't express without
    // changing the query.
    "d_chunk_dedup", "d_kl_sources", "d_incremental_dedup",
    "q_funnel", "q_retention_cohorts")

  def buildCorpus(spark: SparkSession, srcDir: String,
      dir: String = ProbeDir, replicas: Int = 10,
      withEvents: Boolean = true): Unit = {
    val docs = Tables.documents(spark, srcDir)
    val emb = Tables.embeddings(spark, srcDir)
    // replica id offsets from the source's own max id (+1): fixed
    // constants would silently collide (and merge replica state) the
    // day the source corpus outgrows them
    val docOff = docs.agg(max("doc_id")).head().getLong(0) + 1
    val parts = math.min(64 * math.max(replicas / 10, 1), 256)
    val replicasD = (0 until replicas).map { i =>
      docs.select(
        (col("doc_id") + lit(i * docOff)).as("doc_id"),
        (if (i == 0) col("text")
         else regexp_replace(col("text"), "([a-z0-9]+)", "$1x" + i))
          .as("text"),
        col("lang"), col("source"), col("n_chars"))
    }
    replicasD.reduce(_ unionByName _)
      .repartition(parts)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val vecOff = emb.agg(max("vec_id")).head().getLong(0) + 1
    val replicasE = (0 until replicas).map { i =>
      emb.select((col("vec_id") + lit(i * vecOff)).as("vec_id"),
        col("embedding"), col("label"))
    }
    replicasE.reduce(_ unionByName _)
      .repartition(parts / 2)
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    if (withEvents) {
      // events: shifted event ids AND user ids → N× users with the
      // per-user event distribution preserved (the linear-scaling
      // question for funnel/retention, whose state is per-user).
      // Read RAW so ts keeps its on-disk encoding (nanos long or
      // TIMESTAMP_NTZ µs, generation-dependent) and Tables.events'
      // type dispatch still applies to the probe copy.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val ev = spark.read.parquet(s"$srcDir/events.parquet")
      val evOff = ev.agg(max("event_id")).head().getLong(0) + 1
      val userOff = ev.agg(max("user_id")).head().getLong(0) + 1
      val replicasV = (0 until replicas).map { i =>
        ev.select((col("event_id") + lit(i * evOff)).as("event_id"),
          col("ts"), (col("user_id") + lit(i * userOff)).as("user_id"),
          col("event_type"), col("value"), col("props"))
      }
      replicasV.reduce(_ unionByName _)
        .repartition(parts / 2)
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      // customer dim for the stream-static join (st_static_join):
      // one dim row per REPLICATED user — keyed with the same userOff
      // stride as the event replicas, so every scaled user resolves
      // its segment and the dim grows linearly with the user
      // population (the production shape; custkeys beyond the user
      // range are dead dim weight for this join and are dropped)
      val cust = spark.read.parquet(s"$srcDir/customer.parquet")
        .filter(col("c_custkey") < userOff)
      val replicasC = (0 until replicas).map { i =>
        cust.select((col("c_custkey") + lit(i * userOff)).as("c_custkey"),
          col("c_name"), col("c_nationkey"), col("c_acctbal"),
          col("c_mktsegment"))
      }
      replicasC.reduce(_ unionByName _)
        .coalesce(4)
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
    }
  }

  def main(args: Array[String]): Unit = {
    val reps = args.headOption.map(_.toInt).getOrElse(3)
    val scale = args.lift(1).map(_.toInt).getOrElse(10)
    // SPARK_GRAFT_SHUFFLE: deep-probe corpora are 100× the bench SF,
    // so 32 shuffle partitions can exceed per-task buffer memory on
    // the widest exchanges (e.g. auto-k semdedup assignment: 625M
    // rows at 200k vectors). Sizing partitions to the data volume is
    // the same spill-aware rule a real cluster applies; the bench
    // config itself is unchanged.
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "32"))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    args.lift(2) match {
      case Some("lm") => probeLm(spark, scale, reps); spark.stop(); return
      case Some("parity") =>
        probeParity(spark, scale, reps); spark.stop(); return
      case Some("media") =>
        probeMedia(spark, scale, reps); spark.stop(); return
      case Some("jdbc") =>
        probeJdbc(spark, scale); spark.stop(); return
      case Some("bpe") =>
        probeBpe(spark, scale); spark.stop(); return
      case Some("containment") =>
        probeContainment(spark, scale); spark.stop(); return
      case Some("stream") =>
        probeStream(spark, scale); spark.stop(); return
      case Some("ingest") =>
        probeAnnIngest(spark, scale, reps); spark.stop(); return
      case Some("ingestsqrt") =>
        probeAnnIngest(spark, scale, reps, sqrtK = true)
        spark.stop(); return
      case Some("realmedia") =>
        probeMediaReal(spark, scale); spark.stop(); return
      case Some("tpch") =>
        probeTpch(spark, scale, reps); spark.stop(); return
      case Some("phrase") =>
        probePhrase(spark, scale, reps); spark.stop(); return
      case Some("mvrefresh") =>
        probeMvRefresh(spark, scale, reps); spark.stop(); return
      case Some("annindex") =>
        probeAnnIndex(spark, scale, reps); spark.stop(); return
      case Some("semdedup") =>
        probeSemDedup(spark, scale, reps); spark.stop(); return
      case Some("graph") =>
        probeGraph(spark, scale, reps); spark.stop(); return
      case Some("graphcross") =>
        probeGraphCross(spark, reps); spark.stop(); return
      case Some("prshuffle") =>
        probePrShuffleBytes(spark, scale); spark.stop(); return
      case Some("prlocality") =>
        probePrLocality(spark, scale); spark.stop(); return
      case _ => ()
    }
    if (scale != 10) { probeDeep(spark, scale, reps); spark.stop(); return }
    println(s"[probe] building 10x corpus at $ProbeDir")
    val tBuild = System.nanoTime()
    buildCorpus(spark, "/root/testdata/sf0.1")
    println(f"[probe] corpus built in ${(System.nanoTime() - tBuild) / 1e9}%.1fs")
    // SPARK_GRAFT_PROBE_QUERIES overrides here too (it always did for
    // the deep path) — without this a 10x point for a single query
    // cost a full default-family sweep
    val tenXQueries = sys.env.get("SPARK_GRAFT_PROBE_QUERIES")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(Queries)
    for (q <- tenXQueries) {
      val times = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, ProbeDir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val med = times.sorted.apply(reps / 2)
      println(f"[probe] $q%-20s median ${med}%7.2fs  " +
        f"(runs ${times.map(t => f"$t%.2f").mkString("/")})")
      Scratch.audit(q, SparkEntry.queries(q)(spark, ProbeDir))
    }
    // The catalog d_semdedup holds k=8 (sized for the 2k-vector sf0.1
    // corpus) — at 10× that is the deliberate WORST case: mean cluster
    // size grows 10×, pair work Σ|c|² grows ~100×. The production
    // recipe keeps mean cluster size constant by scaling k with N;
    // measure it so both points are on record. (Default-set runs
    // only, same rule as probeDeep's rescue leg.)
    if (sys.env.get("SPARK_GRAFT_PROBE_QUERIES").isEmpty) {
      val kScaled = 80
      val times = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        graft.ext.Similarity.semDedup(graft.ext.SemDedupSpec(
            graft.ext.SemDedupGrid.Flat(graft.ext.Coarse.Fixed(kScaled)),
            iters = 2, threshold = 0.45),
            graft.Tables.embeddings(spark, ProbeDir))
          .orderBy("vec_id")
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val med = times.sorted.apply(reps / 2)
      println(f"[probe] d_semdedup(k=$kScaled) median ${med}%7.2fs  " +
        f"(runs ${times.map(t => f"$t%.2f").mkString("/")})")
    }
    spark.stop()
  }

  /** The 100× probe: core near-dup chain (the operators whose 100-TB
    * story matters most) on an sf10-equivalent ~500k-doc corpus, one
    * order past the routine 10× evidence. Document+embedding tables
    * only (events/funnel are probed at 10×; this mode answers the
    * dedup-chain question). */
  /** Default deep-probe set; override with `SPARK_GRAFT_PROBE_QUERIES`
    * (comma-separated catalog names) to take any query one order
    * deeper — the corpus is reused if already built. */
  private val DeepQueries =
    Seq("d_minhash_lsh", "d_jaccard_pairs", "d_dup_clusters")

  /** BPE merge-count probe (`ScaleProbe <reps> <scale> bpe`):
    * production tokenizers train THOUSANDS of merges, so the question
    * is per-round cost as rounds grow — the driver-local finish
    * ([[graft.ext.Bpe.LocalTypeLimit]]) makes rounds after the one
    * corpus scan + one vocabulary collect pure local CPU. Trains at
    * 8 / 64 / 256 / 1024 rounds on the sf0.1 corpus (and the
    * verbatim `scale`× corpus when scale > 1 — verbatim so the
    * vocabulary stays 1×-sized while counts grow, the real corpus-
    * growth regime) and prints total + per-round time; flat
    * per-round cost past the fixed setup is the pass criterion. */
  private def probeBpe(spark: SparkSession, scale: Int): Unit = {
    val dirs = Seq("1x" -> "/root/testdata/sf0.1") ++
      (if (scale > 1)
        Seq(s"${scale}x" -> verbatimDocsCorpus(spark, scale))
      else Nil)
    for ((tag, dir) <- dirs; rounds <- Seq(8, 64, 256, 1024)) {
      val docs = Tables.documents(spark, dir)
      val t0 = System.nanoTime()
      val merges = graft.ext.Bpe.trainMerges(docs, rounds)
      val total = (System.nanoTime() - t0) / 1e9
      println(f"[probe] bpe_train $tag rounds=$rounds%-5d " +
        f"learned=${merges.size}%-5d total=$total%7.2fs " +
        f"per-round=${total / math.max(merges.size, 1) * 1000}%8.2fms")
    }
    // tokenization under the full learned list: the rounds-deep
    // replace chain vs the memoized local-apply kernel
    for ((tag, dir) <- dirs) {
      val docs = Tables.documents(spark, dir)
      val merges = graft.ext.Bpe.trainMerges(docs, 1024)
      import org.apache.spark.sql.functions._
      val words = filter(split(col("text"), " "), t => length(t) > 0)
      val nBpe = aggregate(words, lit(0L), (acc, t) => acc +
        size(split(trim(graft.ext.Bpe.applyMerges(
          graft.ext.Bpe.symInit(t), merges)), "  ")).cast("long"))
      val tc = System.nanoTime()
      docs.select(col("doc_id"),
          size(words).cast("long").as("n_words"), nBpe.as("n_bpe"))
        .write.format("noop").mode("overwrite").save()
      val chainS = (System.nanoTime() - tc) / 1e9
      val tf = System.nanoTime()
      graft.ext.Bpe.tokenStatsFast(docs, merges)
        .write.format("noop").mode("overwrite").save()
      val fastS = (System.nanoTime() - tf) / 1e9
      println(f"[probe] bpe_apply $tag merges=${merges.size} " +
        f"chain=$chainS%7.2fs fast=$fastS%7.2fs")
    }
  }

  private def lcg(x: Long): Long =
    x * 6364136223846793005L + 1442695040888963407L

  /** Deterministic MB-scale media blob for doc `id`: id%3 picks
    * PNG (1024×768 LCG-noise truecolor via the library's own
    * [[graft.ext.Multimodal.pngEncode]] — noise is incompressible,
    * so ~2.3 MB), JPEG (same raster through the JDK ImageIO
    * encoder), or WAV (10 s stereo 16-bit PCM LCG samples under a
    * hand-rolled RIFF header, ~1.76 MB). */
  private def genBlob(id: Long): Array[Byte] = (id % 3) match {
    case 0 =>
      val (w, h) = (1024, 768)
      val rgb = new Array[Byte](w * h * 3)
      var x = id * 2654435761L | 1L
      var i = 0
      while (i < rgb.length) { x = lcg(x); rgb(i) = (x >>> 56).toByte; i += 1 }
      graft.ext.Multimodal.pngEncode(
        graft.ext.Multimodal.PngPixels(w, h, rgb))
    case 1 =>
      val (w, h) = (1024, 768)
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val arr = new Array[Int](w * h)
      var x = id * 2654435761L | 1L
      var i = 0
      while (i < arr.length) { x = lcg(x); arr(i) = (x >>> 40).toInt & 0xffffff; i += 1 }
      img.setRGB(0, 0, w, h, arr, 0, w)
      val baos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", baos)
      baos.toByteArray
    case _ =>
      val sr = 44100; val ch = 2; val seconds = 10
      val dataLen = sr * seconds * ch * 2
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      val ascii = java.nio.charset.StandardCharsets.US_ASCII
      bb.put("RIFF".getBytes(ascii)); bb.putInt(36 + dataLen)
      bb.put("WAVE".getBytes(ascii)); bb.put("fmt ".getBytes(ascii))
      bb.putInt(16); bb.putShort(1); bb.putShort(ch.toShort)
      bb.putInt(sr); bb.putInt(sr * ch * 2)
      bb.putShort((ch * 2).toShort); bb.putShort(16)
      bb.put("data".getBytes(ascii)); bb.putInt(dataLen)
      var x = id * 2654435761L | 1L
      var i = 0
      while (i < sr * seconds * ch) { x = lcg(x); bb.putShort((x >>> 48).toShort); i += 1 }
      bb.array()
  }

  /** REAL-media probe (`ScaleProbe <reps> <scale> realmedia`): the
    * catalog's media probes ran on KB-scale ASCII stand-ins, so
    * decode cost was never exercised distributed. This leg generates
    * `scale`×60 deterministic MB-scale blobs ([[genBlob]] — ⅓ PNG,
    * ⅓ JPEG, ⅓ WAV; ~100 MB per 60), then drives the REAL typed
    * pipelines: `decodeMeta` (header parse — cost ∝ headers, not
    * payload), `extractFeatures` (FULL pixel/sample decode — the
    * byte-proportional pass), and the decode→resizeDims chain.
    * Printed per shape: wall, MB/s over the true byte volume, and
    * post-GC heap — flat heap across scales is the streamed-batch
    * claim (mapPartitions holds one `batchSize` group at a time,
    * never the partition). */
  private def probeMediaReal(spark: SparkSession, scale: Int): Unit = {
    import spark.implicits._
    import graft.ext.Multimodal
    val dir = s"/tmp/mediareal${scale}x"
    if (!new java.io.File(s"$dir/_built").exists()) {
      println(s"[probe] generating ${scale}x real media at $dir")
      val t0 = System.nanoTime()
      spark.range(60L * scale).select(col("id")).as[Long]
        .repartition(32)
        .map(id => (id, genBlob(id)))
        .toDF("doc_id", "media")
        .write.mode("overwrite").parquet(s"$dir/media.parquet")
      new java.io.File(s"$dir/_built").createNewFile()
      println(f"[probe] media built in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    } else println(s"[probe] reusing ${scale}x real media at $dir")
    val records = spark.read.parquet(s"$dir/media.parquet")
      .as[Multimodal.MediaRecord]
    val tot = spark.read.parquet(s"$dir/media.parquet")
      .agg(count(lit(1)), sum(length(col("media")))).head()
    val (nBlobs, nBytes) = (tot.getLong(0), tot.getLong(1))
    println(f"[probe] corpus: $nBlobs blobs, ${nBytes / 1048576.0}%.0f MB")
    def measure(name: String)(df: => org.apache.spark.sql.DataFrame)
        : Unit = {
      val times = (0 until 2).map { _ =>
        val t0 = System.nanoTime()
        df.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val rt = Runtime.getRuntime
      System.gc()
      val usedMb = (rt.totalMemory() - rt.freeMemory()) >> 20
      println(f"[probe] $name%-14s min ${times.min}%7.2fs " +
        f"(${nBytes / 1048576.0 / times.min}%6.1f MB/s)  " +
        f"heapAfterGc ${usedMb}MB")
    }
    measure("decode_meta") { Multimodal.decodeMeta(records).toDF() }
    measure("features") { Multimodal.extractFeatures(records).toDF() }
    measure("resize") {
      val meta = Multimodal.decodeMeta(records).toDF()
      val (w2, h2) = Multimodal.resizeDims(
        col("width"), col("height"), 320, 240)
      meta.select(col("doc_id"), w2.as("out_w"), h2.as("out_h"))
    }
  }

  /** Streaming-family throughput probe (`ScaleProbe <reps> <n> stream`):
    * the `st_*` entries have batch/stream parity specs; this is their
    * SCALE evidence — the 10× corpus's ~1M events staged as 50
    * time-range-ordered parquet files and streamed 5 files/trigger
    * (≈10 micro-batches arriving in event-time order, the production
    * regime where watermarks advance steadily and state evicts as it
    * goes). Per query: total rows, wall, events/s, per-batch trigger
    * latency (median/max), and the state store's `numRowsTotal` per
    * batch — the boundedness trace. Shapes: tumbling watermark agg
    * (update), session flatMapGroupsWithState (append; NoTimeout here
    * — the processing-time flush never quiesces under
    * processAllAvailable, the StatefulOpsSpec note; state is one
    * triple per user by construction), the stream-stream interval
    * join (append), and the TTL funnel in its production
    * configuration (EventTimeTimeout + 24h idle). */
  private def probeStream(spark: SparkSession, scale: Int = 10): Unit = {
    import spark.implicits._
    import graft.streaming.{EventsStream, StatefulOps}
    // scale×100k events staged as ts-ordered files (10 → the r8 1M
    // row; 100 → 10M events, the r12 1000×-tier extension). Beyond
    // 10× the events replicate DIRECTLY from sf0.1 with the stride
    // rule (event ids and user ids both shift, so per-user event
    // distributions — the stateful operators' state shape — are
    // preserved while the user population scales linearly).
    val staged =
      if (scale == 10) "/tmp/streamprobe_events"
      else s"/tmp/streamprobe_events$scale"
    if (scale == 10) {
      if (!new java.io.File(s"$ProbeDir/events.parquet").exists())
        buildCorpus(spark, "/root/testdata/sf0.1")
      if (!new java.io.File(staged).exists())
        Tables.events(spark, ProbeDir)
          .repartitionByRange(50, col("ts"))
          .sortWithinPartitions("ts")
          .write.mode("overwrite").parquet(staged)
    } else if (!new java.io.File(staged).exists()) {
      val ev = Tables.events(spark, "/root/testdata/sf0.1")
      val evOff = ev.agg(max("event_id")).head().getLong(0) + 1
      val userOff = ev.agg(max("user_id")).head().getLong(0) + 1
      (0 until scale).map(i =>
          ev.select((col("event_id") + lit(i * evOff)).as("event_id"),
            col("ts"), (col("user_id") + lit(i * userOff)).as("user_id"),
            col("event_type"), col("value"), col("props")))
        .reduce(_ unionByName _)
        .repartitionByRange(50, col("ts"))
        .sortWithinPartitions("ts")
        .write.mode("overwrite").parquet(staged)
    }
    val n = spark.read.parquet(staged).count()
    println(s"[probe] stream corpus: $n events, 50 ts-ordered files, " +
      "5 files/trigger")
    def src() = spark.readStream.schema(EventsStream.schema)
      .option("maxFilesPerTrigger", 5).parquet(staged)
    def srcRows() = src()
      .select("event_id", "ts", "user_id", "event_type", "value")
      .as[StatefulOps.EventRow]
    def measure(name: String, df: org.apache.spark.sql.DataFrame,
        mode: String): Unit = {
      val t0 = System.nanoTime()
      val q = df.writeStream.outputMode(mode).format("noop").start()
      q.processAllAvailable()
      val wall = (System.nanoTime() - t0) / 1e9
      val progs = q.recentProgress.filter(_.numInputRows > 0)
      val rows = progs.map(_.numInputRows).sum
      val lat = progs
        .map(_.durationMs.get("triggerExecution").toLong).sorted
      val states = progs.map(p =>
        if (p.stateOperators.nonEmpty)
          p.stateOperators.map(_.numRowsTotal).sum
        else 0L)
      q.stop()
      println(f"[probe] $name%-16s rows=$rows wall=$wall%6.1fs " +
        f"ev/s=${rows / wall}%,10.0f batches=${progs.length} " +
        f"batchMs med=${lat(lat.length / 2)} max=${lat.max} " +
        s"state numRowsTotal/batch=${states.mkString("→")}")
    }
    measure("st_tumbling",
      EventsStream.tumblingAgg(src().withWatermark("ts", "30 minutes")),
      "update")
    measure("st_session",
      StatefulOps.sessionizeStream(srcRows(),
        10 * 60 * 1000000L,
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
        .toDF(), "append")
    measure("st_stream_join", {
      val s = src()
      EventsStream.clickPurchaseJoin(
        s.filter(col("event_type") === "click")
          .withWatermark("ts", "1 hour"),
        s.filter(col("event_type") === "purchase")
          .withWatermark("ts", "1 hour"))
    }, "append")
    measure("st_funnel",
      StatefulOps.funnelStream(srcRows()).toDF(), "update")
    measure("st_full_join", {
      val s = src()
      EventsStream.clickPurchaseFullJoin(
        s.filter(col("event_type") === "click")
          .withWatermark("ts", "1 hour"),
        s.filter(col("event_type") === "purchase")
          .withWatermark("ts", "1 hour"))
    }, "append")
    // same stateful shapes on the PRODUCTION state backend: RocksDB
    // keeps state off-heap (native memory + local SST files), the
    // backend a 1000-executor job runs so state survives executor
    // heap pressure and supports changelog checkpointing; parity of
    // results is implied by the state-store API — this leg measures
    // the throughput tax and that JVM heap stays flat
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state" +
        ".RocksDBStateStoreProvider")
    try {
      measure("st_session[rocksdb]",
        StatefulOps.sessionizeStream(srcRows(),
          10 * 60 * 1000000L,
          org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
          .toDF(), "append")
      measure("st_funnel[rocksdb]",
        StatefulOps.funnelStream(srcRows()).toDF(), "update")
      val rt = Runtime.getRuntime
      System.gc()
      println(s"[probe] rocksdb legs done, heapAfterGc " +
        s"${(rt.totalMemory() - rt.freeMemory()) >> 20}MB")
    } finally spark.conf.unset(
      "spark.sql.streaming.stateStore.providerClass")
  }

  /** Containment-cap sensitivity probe
    * (`ScaleProbe <reps> <scale> containment`): the fixed df≤16
    * hot-gram cap vs the corpus-derived cap
    * ([[graft.ext.Dedup.containmentPairsAuto]]), each measured as
    * RECALL against the UNCAPPED ground-truth pair set (cap = N —
    * exact, every candidate generated). The verbatim corpus is the
    * adversarial regime: every gram's df scales linearly with the
    * corpus (sf0.1's max df is 4, so at 10× every cross-doc shared
    * gram sits at df ≥ 20 — past the fixed cap — while 1×-unique
    * grams reach df 10), which is exactly how shared boilerplate
    * behaves under real growth. Prints N, max df, truth/fixed/auto
    * pair counts, recalls, and times. */
  private def probeContainment(spark: SparkSession, scale: Int): Unit = {
    val dirs = Seq(("1x", "/root/testdata/sf0.1")) ++
      (if (scale > 1)
        Seq((s"${scale}x", verbatimDocsCorpus(spark, scale)))
      else Nil)
    for ((tag, dir) <- dirs) {
      val dd = Tables.documents(spark, dir)
      val n = dd.count()
      def pairs(cap: Int): (Set[(Long, Long)], Double) = {
        val t0 = System.nanoTime()
        val p = graft.ext.Dedup.containmentPairs(dd, "doc_id", "text",
            n = 8, threshold = 0.5, dfCap = cap)
          .select("doc_a", "doc_b").collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSet
        (p, (System.nanoTime() - t0) / 1e9)
      }
      val maxDf = graft.ext.Dedup.gramDfStats(dd, "doc_id", "text", 8)
      val autoCap = math.max(2L, (16L * n + 4999) / 5000).toInt
      val (truth, tT) = pairs(math.min(n, Int.MaxValue.toLong).toInt)
      val (fixed, tF) = pairs(16)
      val (auto, tA) = pairs(autoCap)
      def rec(s: Set[(Long, Long)]): Double =
        if (truth.isEmpty) 1.0
        else s.intersect(truth).size.toDouble / truth.size
      println(f"[probe] containment $tag N=$n maxDf=$maxDf " +
        f"truth=${truth.size} ($tT%.1fs) " +
        f"fixed16=${fixed.size} recall=${rec(fixed)}%.4f ($tF%.1fs) " +
        f"auto(cap=$autoCap)=${auto.size} recall=${rec(auto)}%.4f " +
        f"($tA%.1fs)")
    }
  }

  /** LM/score-family probe (`ScaleProbe <reps> <scale> lm`). The
    * [[buildCorpus]] replication suffixes every token per replica so
    * near-dup structure scales linearly — which also pins per-token
    * counts at their 1× values, the WRONG corpus for the lmScore
    * hot-token question: real corpus growth shares a Zipf vocabulary
    * and head-token counts grow ~N×. This mode replicates documents
    * with text VERBATIM (only ids shift): the vocabulary stays
    * 1×-sized while head counts scale, which is exactly the regime
    * the deterministic hot-token broadcast branch
    * ([[graft.queries.TrainingData.lmScore]], cnt ≥ 2^20) exists for.
    * The sf0.1 head token appears 9,182× → scale 128 pushes it to
    * ~1.18M ≥ 2^20. Prints the hot-vocabulary counts and the plan's
    * join strategies (broadcast hot leg + shuffled cold leg) before
    * timing the family. */
  /** Verbatim-text document replication (ids shift, text unchanged)
    * shared by the lm and media probe modes — for both, the per-row
    * payload must stay 1×-sized while row count scales. */
  private def verbatimDocsCorpus(spark: SparkSession, scale: Int)
      : String = {
    // dir keyed on the RAW scale: an integer-divided key (sf{scale/10})
    // would silently reuse a wrong-size corpus for any non-multiple
    // of 10 and collide all scales below 10
    val dir = s"/tmp/docsprobe${scale}x"
    if (!new java.io.File(s"$dir/documents.parquet").exists()) {
      println(s"[probe] building verbatim ${scale}x docs at $dir")
      val t0 = System.nanoTime()
      val docs = Tables.documents(spark, "/root/testdata/sf0.1")
      val docOff = docs.agg(max("doc_id")).head().getLong(0) + 1
      (0 until scale).map { i =>
        docs.select((col("doc_id") + lit(i * docOff)).as("doc_id"),
          col("text"), col("lang"), col("source"), col("n_chars"))
      }.reduce(_ unionByName _)
        .repartition(math.min(64 * math.max(scale / 10, 1), 256))
        .write.mode("overwrite").parquet(s"$dir/documents.parquet")
      println(f"[probe] corpus built in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    } else println(s"[probe] reusing corpus at $dir")
    dir
  }

  /** Multimodal-family probe (`ScaleProbe <reps> <scale> media`): the
    * m_* catalog entries over a replicated documents-as-media corpus.
    * The mapPartitions batch-decode shape is embarrassingly parallel
    * — per-record work, no shuffle before the final orderBy — so the
    * probe question is (a) ~linear wall-time and (b) flat memory: the
    * per-sample byte cap (`mp4Samples.maxBytesPerSample`) and
    * per-batch iterators must keep the heap independent of corpus
    * size. Heap-in-use is printed per query (post-GC estimate) as the
    * memory evidence. */
  def probeMedia(spark: SparkSession, scale: Int, reps: Int): Unit = {
    val dir = verbatimDocsCorpus(spark, scale)
    for (q <- Seq("m_binary_meta", "m_media_decode", "m_frame_sample",
        "m_mp4_demux", "m_frame_decode", "m_features", "m_resize")) {
      val times = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      val rt = Runtime.getRuntime
      System.gc()
      val usedMb = (rt.totalMemory() - rt.freeMemory()) >> 20
      println(f"[probe] $q%-16s min ${times.min}%7.2fs  " +
        f"(runs ${times.map(t => f"$t%.2f").mkString("/")})  " +
        f"heapAfterGc ${usedMb}MB")
    }
  }

  /** TPC-H fact-replication probe (`ScaleProbe <reps> <scale> tpch`):
    * the analytics family on a star schema whose FACTS grow
    * scale/10 × past sf0.1 while the part/supplier dims stay fixed —
    * the realistic shape (dims grow far slower than facts; the
    * broadcast claims must survive exactly this asymmetry).
    * lineitem/orders/customer replicate under shifted key strides
    * derived from the source's own max keys (same collision rule as
    * [[buildCorpus]]); dates are kept, so per-replica structure is
    * identical and the scaling question is purely volumetric. */
  /** Bounded-batch ANN ingest-gate probe. The catalog entry's %10
    * split makes the batch scale WITH the corpus — the worst case,
    * measured separately (227.9s at 100×, recorded in BASELINE.md) —
    * but production ingests BOUNDED batches between index refits.
    * Here the batch is held at ~2k vectors while the manifest scales,
    * and the two legs are timed separately, mirroring the production
    * cost model:
    *  - BUILD (amortized index state, the FAISS train+add path):
    *    `ivfBuild` with k = ⌈N/64⌉ — r9's k ∝ N quantizer; cost
    *    grows with N × k and is paid once per refit cycle, not per
    *    batch. Centroids + members are materialized (localCheckpoint)
    *    exactly as a deployment persists them.
    *  - PROBE (the per-batch gate): |batch| × (k + nprobe × 64) —
    *    FLAT in the manifest, replacing r8's fixed-k=8 label
    *    quantizer whose probe cost was linear in N (1.9s → 15.4s for
    *    18k → 198k manifests at the same 2k batch). Reuses the
    *    corpora built by the 10×/100× document probes. */
  def probeAnnIngest(spark: SparkSession, scale: Int,
      reps: Int, sqrtK: Boolean = false): Unit = {
    val dir = ensureDeepCorpus(spark, scale)
    val emb = Tables.embeddings(spark, dir)
    val mx = emb.agg(max("vec_id")).head().getLong(0)
    val mod = math.max(1L, (mx + 1) / 2000L)
    val batch = emb.filter(col("vec_id") % mod === 0)
    val manifest = emb.filter(col("vec_id") % mod =!= 0)
    val nB = batch.count(); val nM = manifest.count()
    // sampled fit at scale (the FAISS practice — the full fit is
    // O(N·k) = O(N²/64) with k ∝ N; measured 637s at the 198k
    // manifest vs a flat probe, so the amortized-build story needs
    // the sample bound the way production applies it)
    val fitMod = if (scale >= 100) 10L else 1L
    val tB0 = System.nanoTime()
    val spec = graft.ext.IvfSpec(graft.ext.Coarse.Kmeans(
      if (sqrtK) graft.ext.Coarse.SqrtRows else graft.ext.Coarse.PerRows(64),
      iters = 2, nprobe = 3, fitSampleMod = fitMod))
    val built = graft.ext.Similarity.ivfBuild(spec, manifest)
    val index = built.copy(
      centroids = built.centroids.localCheckpoint(),
      members = built.members.localCheckpoint())
    val tBuild = (System.nanoTime() - tB0) / 1e9
    val times = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      graft.ext.Similarity.ivfProbe(spec, index, batch, k = 3)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val tag = if (sqrtK) "ann_ingest_sqrt" else "ann_ingest"
    println(f"[probe] $tag(batch=$nB, manifest=$nM, " +
      f"k=${index.kClusters}, fitMod=$fitMod) build $tBuild%7.2fs  " +
      f"probe min ${times.min}%7.2fs  " +
      f"(runs ${times.map(t => f"$t%.2f").mkString("/")})")
  }

  /** SemDeDup family probe (`ScaleProbe <reps> <scale> semdedup`):
    * the flat k ∝ N recipe (full and sampled fit — both still pay the
    * final full-corpus assignment, the measured O(N²/64) wall)
    * against the hierarchical two-level cells of `d_semdedup_hier`,
    * whose every assignment pass is N·(k₁+k₂) = O(N^1.5/8). Flat legs
    * are gated ≤100× by policy — their final assignment IS the wall
    * this probe exists to show the hierarchy retiring. NOTE: the
    * replica corpus's duplicate MULTIPLICITY grows with scale, and
    * identical copies can never be split across cells, so the
    * within-cell pair leg grows ~quadratically in the replica count
    * for EVERY variant (a corpus artifact, honest for dup-heavy
    * corpora); the assignment leg is what the variants differ on. */
  def probeSemDedup(spark: SparkSession, scale: Int, reps: Int): Unit = {
    val dir = ensureDeepCorpus(spark, scale)
    val emb = Tables.embeddings(spark, dir)
    val n = emb.count()
    def leg(tag: String)(f: => org.apache.spark.sql.DataFrame): Unit = {
      val times = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        f.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] semdedup/$tag%-12s (n=$n) min ${times.min}%7.2fs  " +
        f"(runs ${times.map(t => f"$t%.2f").mkString("/")})")
    }
    import graft.ext.{Coarse, SemDedupGrid, SemDedupSpec, Similarity}
    val flat = SemDedupSpec(SemDedupGrid.Flat(Coarse.PerRowsMin2(64)),
      iters = 2, threshold = 0.45)
    val hier = flat.copy(grid = SemDedupGrid.Hier(64))
    def gate(spec: SemDedupSpec) = Similarity.semDedupGateBatch(spec,
      Similarity.semDedupFit(spec, emb.filter(col("vec_id") % 10 =!= 0)),
      emb.filter(col("vec_id") % 10 === 0))
    if (scale <= 100) {
      leg("flat_full")(Similarity.semDedup(flat, emb))
      leg("flat_sampled")(
        Similarity.semDedup(flat.copy(fitSampleMod = 4L), emb))
    } else println("[probe] flat legs gated <=100x by policy " +
      "(the O(N^2/64) full-corpus assignment)")
    // the ingest gate pays the manifest fit per probe run (in
    // production it is the amortized index batches reuse). r13 this
    // leg was gated >100x WITH the flat legs — its refit WAS the flat
    // k ∝ N_man fit; r14's hier-fit composition ungates it (the
    // verdict ask: the 1000x gate leg in the hier class)
    leg("incremental")(gate(hier))
    leg("incremental_sampled")(gate(hier.copy(fitSampleMod = 4L)))
    leg("hier")(Similarity.semDedup(hier, emb))
    // the r13 sampled-hier lever (both Lloyd levels on the mod-4
    // slice): must land at or under the full-hier time at every tier
    leg("hier_sampled")(
      Similarity.semDedup(hier.copy(fitSampleMod = 4L), emb))
  }

  /** Shuffle-byte AUDIT of the PageRank shuffle regime
    * (`ScaleProbe <reps> <n-millions> prshuffle`) — the evidence the
    * r13 routing-table carry-forward is gated on: per-STAGE shuffle
    * write bytes during one shuffle-regime run (iters = 5) on the
    * uniform 10⁶·scale-node graph, attributed by stage call site.
    * The regime has exactly two per-iteration exchanges — the
    * node-sized rank repartition (`repartition at PageRank`) and the
    * dst partial-sum aggregate exchange (`localCheckpoint at
    * PageRank` map-side) — so the printed distribution answers
    * directly whether the partial-sum leg dominates (the GraphX-style
    * dst-clustered routing table would shrink ONLY that leg). */
  def probePrShuffleBytes(spark: SparkSession, nMillions: Int): Unit = {
    val n = math.max(1, nMillions) * 1000000L
    val hashEdges = spark.range(n * 16).select(
      pmod(xxhash64(col("id")), lit(n)).as("src"),
      pmod(xxhash64(col("id"), lit(1)), lit(n)).as("dst"))
      .filter(col("src") =!= col("dst"))
    val ring = spark.range(n).select(col("id").as("src"),
      ((col("id") + 1) % n).as("dst"))
    val e = hashEdges.unionByName(ring).localCheckpoint()
    // AQE submits stages from its own thread pool, so neither stage
    // names nor call-site stacks attribute exchanges; SHAPE does —
    // record count per stage is unambiguous here (the rank exchange
    // writes exactly n records per iteration, the dst partial-sum
    // aggregate writes Σ distinct-dst-per-partition ≫ n, the one-time
    // layout build writes ~17n edge rows).
    val stages = new java.util.concurrent
      .ConcurrentLinkedQueue[(Int, Long, Long)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          ev: org.apache.spark.scheduler
            .SparkListenerStageCompleted): Unit = {
        val m = ev.stageInfo.taskMetrics.shuffleWriteMetrics
        if (m.bytesWritten > 0) stages.add(
          (ev.stageInfo.stageId, m.recordsWritten, m.bytesWritten))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      graft.ext.PageRank.pagerank(e, iters = 5, broadcastMaxNodes = 0L)
        .write.format("noop").mode("overwrite").save()
      // listener events drain async; a short settle beats reaching
      // into the private listener bus
      Thread.sleep(2000)
      import scala.jdk.CollectionConverters._
      val rows = stages.asScala.toSeq.sortBy(_._1)
      val total = rows.map(_._3).sum
      println(f"[probe] prshuffle n=$n total shuffle write " +
        f"${total / 1e9}%.2f GB over ${rows.size} map stages")
      // label by SHAPE + RECURRENCE: ~n rows → the rank exchange; a
      // row count recurring ≥3× (once per iteration) above n → the
      // dst partial-sum aggregate; everything else is one-time
      // layout/init work
      val freq = rows.groupBy(_._2).view.mapValues(_.size).toMap
      rows.foreach { case (id, r, b) =>
        val kind =
          if (r <= n * 6 / 5) "rank-repartition(node-sized)"
          else if (freq(r) >= 3) "dst-partial-sum-aggregate(per-iter)"
          else "one-time(layout/init)"
        println(f"[probe]   stage $id%4d ${b / 1e9}%8.3f GB " +
          f"${r / 1e6}%8.1fM rows  ${b * 100.0 / total}%5.1f%%  $kind")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** PageRank shuffle-regime LAYOUT-LOCALITY probe (`ScaleProbe
    * <nMillions> <nMillions> prlocality` — the r14-carried question,
    * r16 verdict item 5): the one per-iteration exchange left in the
    * shuffle regime is the dst partial-sum aggregate, whose exchanged
    * row count is Σ_p |distinct dst in partition p| — bounded by the
    * Pregel message bound, and for a HASH-partitioned layout ≈
    * nParts · n·(1 − e^(−edges/(nParts·n))), i.e. several× node-sized.
    * The locality hypothesis: clustering the layout's edges by dst
    * WITHIN each src partition (`sortWithinPartitions("dst")`) might
    * shrink or speed that exchange. The analysis says NO for row
    * count — the partial HashAggregate's output is the per-partition
    * distinct-dst set, which is order-INdependent — so any win could
    * only come from aggregation-hash-map locality; this probe
    * measures both variants' per-stage shuffle rows/bytes and wall
    * time so the answer is a number, not an argument. (A dst-
    * partitioned layout is NOT a variant: the rank join keys on src,
    * so it would re-exchange the corpus-sized layout every iteration
    * — the exact shape the layout rewrite removed. Genuinely
    * shrinking the message bound needs edge-cut-minimizing graph
    * partitioning, which a hash-keyed corpus graph does not admit
    * without a partitioner fit — out of the engine's scope, recorded
    * in BASELINE_APPENDIX.) */
  def probePrLocality(spark: SparkSession, nMillions: Int): Unit = {
    import org.apache.spark.sql.DataFrame
    val n = math.max(1, nMillions) * 1000000L
    val hashEdges = spark.range(n * 16).select(
      pmod(xxhash64(col("id")), lit(n)).as("src"),
      pmod(xxhash64(col("id"), lit(1)), lit(n)).as("dst"))
      .filter(col("src") =!= col("dst"))
    val ring = spark.range(n).select(col("id").as("src"),
      ((col("id") + 1) % n).as("dst"))
    val eRaw = hashEdges.unionByName(ring).localCheckpoint()
    val nParts = spark.sessionState.conf.numShufflePartitions
    val stages = new java.util.concurrent
      .ConcurrentLinkedQueue[(Int, Long, Long)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onStageCompleted(
          ev: org.apache.spark.scheduler
            .SparkListenerStageCompleted): Unit = {
        val m = ev.stageInfo.taskMetrics.shuffleWriteMetrics
        if (m.bytesWritten > 0) stages.add(
          (ev.stageInfo.stageId, m.recordsWritten, m.bytesWritten))
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // the inline shuffle-regime replica, layout optionally dst-sorted
    // (everything else is PageRank.pagerank's shuffle branch verbatim)
    def inlinePr(dstSorted: Boolean): DataFrame = {
      val e0 = eRaw.select(col("src").cast("long").as("src"),
        col("dst").cast("long").as("dst"))
      val deg = graft.ext.Ckpt.lazily(
        e0.groupBy(col("src")).agg(count(lit(1)).as("deg")))
      val nNodes = deg.count()
      val lay0 = e0.join(deg, "src").repartition(nParts, col("src"))
      val e = (if (dstSorted) lay0.sortWithinPartitions("dst") else lay0)
        .persist(org.apache.spark.storage.StorageLevel
          .MEMORY_AND_DISK_SER)
      e.count()
      val nodes = deg.select(col("src").as("node"))
      val initPico = 1000000000000L / nNodes
      val basePico = 150000000000L / nNodes
      var pr = graft.ext.Ckpt(
        nodes.select(col("node"), lit(initPico).as("pr_pico")))
      for (_ <- 1 to 5) {
        val ranks = pr.select(col("node").as("src"), col("pr_pico"))
        val joined = e.join(
          ranks.repartition(nParts, col("src")).hint("shuffle_hash"),
          "src")
        val contrib = joined.select(col("dst").as("node"),
          expr("pr_pico div deg").as("c"))
        pr = graft.ext.Ckpt(nodes
          .join(contrib.groupBy(col("node")).agg(sum(col("c")).as("s")),
            Seq("node"), "left")
          .select(col("node"),
            (lit(basePico) +
              expr("(85 * coalesce(s, 0L)) div 100")).as("pr_pico")))
      }
      e.unpersist()
      pr
    }
    try {
      for (dstSorted <- Seq(false, true)) {
        stages.clear()
        val tag = if (dstSorted) "src-hash+dst-sorted" else "src-hash"
        val t0 = System.nanoTime()
        inlinePr(dstSorted)
          .write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(2000)
        import scala.jdk.CollectionConverters._
        val rows = stages.asScala.toSeq.sortBy(_._1)
        val freq = rows.groupBy(_._2).view.mapValues(_.size).toMap
        val perIter = rows.filter(r => r._2 > n * 6 / 5 && freq(r._2) >= 3)
        println(f"[probe] prlocality n=$n $tag%-20s wall $wall%7.2fs  " +
          f"dst-partial-sum stages: ${perIter.size} × " +
          f"${perIter.headOption.map(_._2 / 1e6).getOrElse(0.0)}%.1fM rows, " +
          f"${perIter.map(_._3).sum / 1e9}%.3f GB total")
        rows.foreach { case (id, r, b) =>
          println(f"[probe]   stage $id%4d ${b / 1e9}%8.3f GB " +
            f"${r / 1e6}%8.1fM rows")
        }
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** PageRank regime-CROSSOVER probe (`ScaleProbe <reps> 0
    * graphcross`): both physical regimes at node scales 10⁴..10⁷ on
    * deterministic synthetic graphs (avg degree ~17: 16 hash edges +
    * a ring that guarantees every node appears as a src — the
    * pagerank input contract). r13 shipped the shuffle regime with
    * `BroadcastMaxNodes = 10⁸` justified only by the broadcast
    * memory ceiling; the r13 measurements had shuffle WINNING both
    * measured tiers (16M and ~1B-node class), so the default picked
    * the measured-slower plan across the 10⁶–10⁸ band. This probe
    * measures the actual crossover; the constant derives from its
    * table in BASELINE.md. iters = 5 so the per-iteration regime
    * delta dominates the shared layout build. */
  def probeGraphCross(spark: SparkSession, reps: Int): Unit = {
    for (n <- Seq(10000L, 100000L, 1000000L, 10000000L)) {
      val hashEdges = spark.range(n * 16).select(
        pmod(xxhash64(col("id")), lit(n)).as("src"),
        pmod(xxhash64(col("id"), lit(1)), lit(n)).as("dst"))
        .filter(col("src") =!= col("dst"))
      val ring = spark.range(n).select(col("id").as("src"),
        ((col("id") + 1) % n).as("dst"))
      // materialize once so both regimes read identical cached input
      val e = hashEdges.unionByName(ring).localCheckpoint()
      for ((tag, bmax) <- Seq(("broadcast", Long.MaxValue),
          ("shuffle", 0L))) {
        val times = (0 until reps).map { _ =>
          val t0 = System.nanoTime()
          graft.ext.PageRank.pagerank(e, iters = 5,
              broadcastMaxNodes = bmax)
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        println(f"[probe] prcross/n=$n%-9d $tag%-10s min " +
          f"${times.min}%7.2fs  " +
          f"(runs ${times.map(t => f"$t%.2f").mkString("/")})")
      }
    }
  }

  /** Graph-regime probe (`ScaleProbe <reps> <scale> graph`): the two
    * r13 graph shapes at depth on their designed corpora.
    *
    *  - PageRank BOTH regimes on the `scale`× tpch purchase graph
    *    (the g_pagerank derivation, symmetrized): the broadcast
    *    regime is the r12 measured shape; the shuffle regime
    *    (`broadcastMaxNodes = 0`) is the >10⁸-node production path —
    *    the probe proves it completes in the same class with the
    *    layout exchange-free (per-iteration cost adds one node-sized
    *    rank exchange + a partial-sum aggregate exchange).
    *  - Triangle counting on the DUP-HEAVY corpus (the verbatim
    *    `scale`× replication: every doc has `scale` exact copies, so
    *    the near-dup pair graph is 5000 cliques of `scale` members
    *    plus cross-value near-dup edges — the multiplicity shape the
    *    r12 gate named). The twin collapse must hold the runtime to
    *    the edge-list class (input-linear) instead of the member
    *    wedge join's multiplicity³. */
  def probeGraph(spark: SparkSession, scale: Int, reps: Int): Unit = {
    // SPARK_GRAFT_PROBE_LEGS: comma-separated leg-name prefixes to
    // run (rerun one leg without paying the others' 20-minute tiers)
    val legFilter = sys.env.get("SPARK_GRAFT_PROBE_LEGS")
      .map(_.split(",").map(_.trim).toSeq)
    def leg(tag: String)(f: => DataFrame): Unit = {
      if (!legFilter.forall(_.exists(tag.startsWith))) return
      val times = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        f.write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] graph/$tag%-22s min ${times.min}%7.2fs  " +
        f"(runs ${times.map(t => f"$t%.2f").mkString("/")})")
    }
    val dir = ensureTpchStar(spark, scale)
    val e0 = Tables.lineitem(spark, dir)
      .join(Tables.orders(spark, dir),
        col("l_orderkey") === col("o_orderkey"))
      .select((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    val edges = e0.unionByName(
      e0.select(col("dst").as("src"), col("src").as("dst")))
    leg("pagerank_broadcast")(
      graft.ext.PageRank.pagerank(edges, iters = 2))
    leg("pagerank_shuffle")(
      graft.ext.PageRank.pagerank(edges, iters = 2,
        broadcastMaxNodes = 0L))
    // BFS over the same star graph through the AUTO bucket derivation
    // (the g_bfs path) — the stderr line records the derived count
    leg("bfs_auto")(
      graft.ext.Bfs.distancesIndexedAuto(e0, "src", "dst"))
    // dup-heavy triangle leg: verbatim corpus at a multiplicity high
    // enough that the old member-level wedge join is hopeless
    // (wedges ∝ 5000·m·(m−1)²/2) while edges stay writable
    // the 2k-values × m-copies multiplicity shape the r12 gate named,
    // constructed DIRECTLY (m-member twin-cliques chained by
    // fully-bipartite value adjacency) so the leg times the triangle
    // machinery itself, not the upstream pair generator: member-level
    // wedge work would be Σ outdeg² ≈ edges·m-class (hopeless past
    // m ≈ 30); the twin collapse must hold the runtime to the
    // edge-list (input) class. Gated ≤ 100 like the flat semdedup
    // legs: past that the EDGE LIST itself (2000·C(m,2)) stops being
    // writable — an input bound, not an algorithm property.
    if (scale <= 100) {
      val m = math.max(scale, 2).toLong
      val values = 2000L
      val mem = spark.range(values * m).select(
        (col("id") / m).cast("long").as("v"), col("id").as("node"))
      val within = mem.alias("x").join(mem.alias("y"),
          col("x.v") === col("y.v") && col("x.node") < col("y.node"))
        .select(col("x.node").as("src"), col("y.node").as("dst"))
      val across = mem.alias("x").join(mem.alias("y"),
          col("x.v") + 1 === col("y.v"))
        .select(col("x.node").as("src"), col("y.node").as("dst"))
      leg(s"triangles_dup(m=$m)")(
        graft.ext.Triangles.triangleCounts(
          within.unionByName(across), "src", "dst"))
    } else println("[probe] triangles_dup gated <=100x (the edge " +
      "list itself is quadratic in multiplicity — an input bound)")
    // FALSE-twin (mirrored link farm) leg — r14: h fully-connected
    // hubs, m = 2000·scale mirror leaves each linked to ALL hubs and
    // to no other leaf. Leaves are the low-degree side, so the
    // oriented wedge join would enumerate m·C(h,2) closures
    // (~10⁹ at 100×: the r12 disk-full class); the open-neighborhood
    // collapse runs it quotient-sized (2 groups, 1 quotient edge) —
    // the leg must stay input-linear (edge list = m·h + C(h,2)).
    // UNGATED: the edge list is LINEAR in scale here, unlike
    // triangles_dup's quadratic-multiplicity input bound.
    locally {
      val h = 100L
      val m = 2000L * math.max(scale, 1)
      val hubs = spark.range(h)
      val clique = hubs.alias("x").join(hubs.alias("y"),
          col("x.id") < col("y.id"))
        .select(col("x.id").as("src"), col("y.id").as("dst"))
      val spokes = spark.range(m).alias("l")
        .join(hubs.alias("hh"))
        .select((col("l.id") + h).as("src"), col("hh.id").as("dst"))
      leg(s"triangles_star(m=$m,h=$h)")(
        graft.ext.Triangles.triangleCounts(
          clique.unionByName(spokes), "src", "dst"))
    }
  }

  /** Build (or reuse) the `scale`× tpch star under /tmp and return its
    * dir — factored from [[probeTpch]] so the graph probe can target
    * the same corpus. */
  def ensureTpchStar(spark: SparkSession, scale: Int): String = {
    val rep = math.max(scale, 1)
    val dir = s"/tmp/tpch${rep}x"
    val src = "/root/testdata/sf0.1"
    if (!new java.io.File(s"$dir/_built").exists()) {
      // 1000x composes as 10 replicas OF the 100x star when present
      // (the ensureDeepCorpus rule — a 1000-branch union tree spends
      // minutes in analysis alone). Unlike the text corpora, the
      // composition is EXACT here: keys replicate by pure numeric
      // stride, and the 100x star's own max-key+1 stride IS 100× the
      // base stride, so 10×(100x) ≡ 1000×(base) row for row.
      val (bsrc, brep) =
        if (rep == 1000 &&
            new java.io.File("/tmp/tpch100x/_built").exists())
          ("/tmp/tpch100x", 10) else (src, rep)
      if (bsrc != src) println(s"[probe] ${rep}x tpch build path: 10" +
        " replicas of the cached 100x star (numerically exact)")
      println(s"[probe] building ${rep}x tpch star at $dir")
      val t0 = System.nanoTime()
      val cust = spark.read.parquet(s"$bsrc/customer.parquet")
      val ord = spark.read.parquet(s"$bsrc/orders.parquet")
      val li = spark.read.parquet(s"$bsrc/lineitem.parquet")
      val custOff = cust.agg(max("c_custkey")).head().getLong(0) + 1
      val ordOff = ord.agg(max("o_orderkey")).head().getLong(0) + 1
      (0 until brep).map(i => cust.select(
          (col("c_custkey") + lit(i * custOff)).as("c_custkey"),
          col("c_name"), col("c_nationkey"), col("c_acctbal"),
          col("c_mktsegment")))
        .reduce(_ unionByName _).coalesce(4)
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      (0 until brep).map(i => ord.select(
          (col("o_orderkey") + lit(i * ordOff)).as("o_orderkey"),
          (col("o_custkey") + lit(i * custOff)).as("o_custkey"),
          col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
          col("o_orderpriority")))
        .reduce(_ unionByName _).repartition(math.min(32 * rep, 128))
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      (0 until brep).map(i => li.withColumn("l_orderkey",
          col("l_orderkey") + lit(i * ordOff)))
        .reduce(_ unionByName _).repartition(math.min(64 * rep, 256))
        .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
      for (t <- Seq("part", "supplier", "nation", "region"))
        spark.read.parquet(s"$src/$t.parquet").coalesce(1)
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      new java.io.File(s"$dir/_built").createNewFile()
      println(f"[probe] star built in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    } else println(s"[probe] reusing ${rep}x tpch star at $dir")
    // events replicated with the CUSTOMER stride (user_id keys into
    // c_custkey) — added separately so pre-existing stars upgrade in
    // place; needed by the cross-table queries (q_fk_orphans).
    // The 1000x star omits events (1B rows / ~20 GB for queries the
    // graph/MV probes never touch; the cross-table event queries are
    // probed at <= 100x)
    if (rep > 100)
      println(s"[probe] ${rep}x star: events leg skipped by policy")
    else if (!new java.io.File(s"$dir/events.parquet").exists()) {
      val custOff = spark.read.parquet(s"$src/customer.parquet")
        .agg(max("c_custkey")).head().getLong(0) + 1
      // the nanos upgrade is scoped to THIS read: leaving it set on
      // the shared session would leak into every later parquet read
      // in the same probe run (round-10 advice)
      val prevNanos =
        spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      try {
        val ev = spark.read.parquet(s"$src/events.parquet")
        val evOff = ev.agg(max("event_id")).head().getLong(0) + 1
        (0 until rep).map(i => ev.select(
            (col("event_id") + lit(i * evOff)).as("event_id"),
            col("ts"), (col("user_id") + lit(i * custOff)).as("user_id"),
            col("event_type"), col("value"), col("props")))
          .reduce(_ unionByName _).repartition(math.min(32 * rep, 128))
          .write.mode("overwrite").parquet(s"$dir/events.parquet")
      } finally prevNanos match {
        case Some(v) =>
          spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", v)
        case None =>
          spark.conf.unset("spark.sql.legacy.parquet.nanosAsLong")
      }
      println(s"[probe] events replicated into the ${rep}x star")
    }
    dir
  }

  def probeTpch(spark: SparkSession, scale: Int, reps: Int): Unit = {
    val dir = ensureTpchStar(spark, scale)
    val queries = sys.env.get("SPARK_GRAFT_PROBE_QUERIES")
      .map(_.split(",").map(_.trim).toSeq)
      .getOrElse(Seq("q1_pricing_summary", "q3_shipping_priority",
        "q5_local_supplier", "q8_market_share", "q10_returned_items",
        "q14_promo_effect", "q17_small_qty", "q18_large_orders",
        "q19_disjunctive", "q15_top_supplier", "q13_order_counts",
        "q_zorder_skipping"))
    for (q <- queries) {
      val times = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $q%-20s min ${times.min}%7.2fs  " +
        f"(runs ${times.map(t => f"$t%.2f").mkString("/")})")
      // q18 is the family's one data-sized exchange: capture the
      // AQE-FINAL executed plan (post-execution, so runtime join
      // re-planning — broadcast conversion / skew split — is visible,
      // not just the static strategy)
      if (q == "q18_large_orders") {
        val df = SparkEntry.queries(q)(spark, dir)
        df.write.format("noop").mode("overwrite").save()
        def finalPlan(p: org.apache.spark.sql.execution.SparkPlan)
            : org.apache.spark.sql.execution.SparkPlan = p match {
          case a: org.apache.spark.sql.execution.adaptive
              .AdaptiveSparkPlanExec => a.executedPlan
          case o => o
        }
        val lines = finalPlan(df.queryExecution.executedPlan)
          .toString.linesIterator
          .filter(l => l.contains("Join") || l.contains("Exchange") ||
            l.contains("Skew") || l.contains("AQE") ||
            l.contains("QueryStage") || l.contains("Filter (sum_qty"))
        println(s"[probe] $q AQE-final plan (joins/exchanges):")
        lines.foreach(l => println(s"[plan] ${l.trim.take(160)}"))
      }
    }
  }

  /** JDBC upsert-sink probe (`ScaleProbe <reps> <scale> jdbc`,
    * rows = scale × 100k; default 1M): the SinksSpec Derby round-trip
    * is row-count-tiny, so this pushes a production-sized batch
    * through the REAL live path — Spark JDBC staging write (batched
    * inserts, parallel partitions) + ONE server-side MERGE in one
    * transaction — against embedded in-memory Derby, the one JDBC
    * endpoint this sandbox can run. Asserts the script is exactly
    * [MERGE, DROP] (a hidden per-row path would surface as a
    * statement-per-row script or minutes of wall time) and verifies
    * the merged row count server-side. Two legs: all-insert, then
    * same-key all-update. */
  def probeJdbc(spark: SparkSession, scale: Int): Unit = {
    import graft.sources.JdbcUpsertSink
    import JdbcUpsertSink.JdbcTarget
    val n = scale * 100000L
    val url = "jdbc:derby:memory:graftsinkprobe;create=true"
    val seed = java.sql.DriverManager.getConnection(url)
    try {
      val st = seed.createStatement()
      st.execute("""CREATE TABLE "users" ("email" VARCHAR(40) """ +
        """NOT NULL PRIMARY KEY, "name" VARCHAR(40), "age" INT)""")
      st.close()
    } finally seed.close()
    val t = JdbcTarget(url, "users", "app", "", Map(
      "createTableColumnTypes" -> "email VARCHAR(40), name VARCHAR(40)",
      "batchsize" -> "10000", "numPartitions" -> "8"))
    def staged(tag: String) = spark.range(n).select(
      concat(lit("user"), col("id")).as("email"),
      concat(lit(tag), (col("id") % 997)).as("name"),
      (col("id") % 80).cast("int").as("age"))
    def countRows(): Long = {
      val c = java.sql.DriverManager.getConnection(url)
      try {
        val rs = c.createStatement()
          .executeQuery("""SELECT count(*) FROM "users"""")
        rs.next(); rs.getLong(1)
      } finally c.close()
    }
    for ((tag, leg) <- Seq("v1" -> "insert", "v2" -> "update")) {
      val t0 = System.nanoTime()
      val script = JdbcUpsertSink.upsert(staged(tag), t, Seq("email"),
        batchId = if (leg == "insert") 1 else 2, dialect = "ansi")
      val secs = (System.nanoTime() - t0) / 1e9
      assert(script.length == 2 &&
        script.head.startsWith("MERGE INTO") &&
        script(1).startsWith("DROP TABLE"),
        s"script must be one MERGE + one DROP, got: $script")
      val rows = countRows()
      assert(rows == n, s"expected $n rows after $leg leg, got $rows")
      println(f"[probe] jdbc_upsert($leg) $n rows in $secs%7.2fs " +
        f"(${n / secs}%.0f rows/s), script = 1 MERGE + 1 DROP")
    }
  }

  def probeLm(spark: SparkSession, scale: Int, reps: Int): Unit = {
    val dir = verbatimDocsCorpus(spark, scale)
    val docsDf = Tables.documents(spark, dir)
    // hot-vocabulary evidence: the collect is bounded by construction
    // (≤ total_tokens / 2^20 rows can clear the threshold)
    val hot = docsDf
      .select(explode(graft.ext.TextStats.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= (1L << 20))
      .orderBy(desc("cnt"), asc("tok")).collect()
    println(s"[probe] hot tokens (cnt >= 2^20 = ${1L << 20}): ${hot.length}" +
      hot.take(8).map(r => s"\n[probe]   '${r.get(0)}' x ${r.get(1)}")
        .mkString)
    val plan = graft.queries.TrainingData
      .lmScore(docsDf, materialize = false)
      .queryExecution.explainString(
        org.apache.spark.sql.execution.SimpleMode)
    println("[probe] lmScore join strategies:\n" + plan.split("\n")
      .filter(_.contains("Join")).map("[probe]   " + _.trim)
      .mkString("\n"))
    for (q <- Seq("d_lm_score", "d_lm_bigram", "d_quality_lr",
        "d_repetition_break")) {
      val times = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $q%-20s min ${times.min}%7.2fs  " +
        f"(runs ${times.map(t => f"$t%.2f").mkString("/")})")
    }
  }

  /** Parity-merge probe (`ScaleProbe <reps> <scale> parity`): the
    * reference-parity pipelines (p_users_merge, p_staffing_pipeline,
    * p_projects_pipeline) run full-outer SortMergeJoin merges over
    * frames derived from customer/orders — the operators an actual
    * user of the reference runs on a big roster, never scale-probed
    * before round 6. Replicates customer and orders with ids shifted
    * (o_custkey shifts by the same per-replica offset as c_custkey,
    * preserving FK structure, so staged/current frame sizes and merge
    * match rates scale linearly). */
  def probeParity(spark: SparkSession, scale: Int, reps: Int): Unit = {
    val dir = s"/tmp/sf${scale / 10}parityprobe"
    if (!new java.io.File(s"$dir/customer.parquet").exists()) {
      println(s"[probe] building ${scale}x customer/orders at $dir")
      val t0 = System.nanoTime()
      val cust = Tables.customer(spark, "/root/testdata/sf0.1")
      val ord = Tables.orders(spark, "/root/testdata/sf0.1")
      val custOff = cust.agg(max("c_custkey")).head().getLong(0) + 1
      val ordOff = ord.agg(max("o_orderkey")).head().getLong(0) + 1
      val parts = math.min(64 * math.max(scale / 10, 1), 256)
      (0 until scale).map { i =>
        cust.withColumn("c_custkey", col("c_custkey") + lit(i * custOff))
      }.reduce(_ unionByName _)
        .repartition(parts / 2)
        .write.mode("overwrite").parquet(s"$dir/customer.parquet")
      (0 until scale).map { i =>
        ord.withColumn("o_orderkey", col("o_orderkey") + lit(i * ordOff))
          .withColumn("o_custkey", col("o_custkey") + lit(i * custOff))
      }.reduce(_ unionByName _)
        .repartition(parts)
        .write.mode("overwrite").parquet(s"$dir/orders.parquet")
      println(f"[probe] built in ${(System.nanoTime() - t0) / 1e9}%.1fs")
    } else println(s"[probe] reusing corpus at $dir")
    for (q <- Seq("p_users_merge", "p_staffing_pipeline",
        "p_projects_pipeline")) {
      val times = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $q%-22s min ${times.min}%7.2fs  " +
        f"(runs ${times.map(t => f"$t%.2f").mkString("/")})")
      Scratch.audit(q, SparkEntry.queries(q)(spark, dir))
    }
  }

  /** Build-or-reuse the deep-probe corpus for `scale` (100 →
    * /tmp/sf10probe, 1000 → /tmp/sf100probe) — shared by every probe
    * mode that runs on the document/embedding corpora. */
  private def ensureDeepCorpus(spark: SparkSession, scale: Int)
      : String = {
    val dir = s"/tmp/sf${scale / 10}probe"
    if (!new java.io.File(s"$dir/documents.parquet").exists()) {
      println(s"[probe] building ${scale}x corpus at $dir")
      val tBuild = System.nanoTime()
      // 1000x builds as 10 replicas OF the 100x corpus when present —
      // a 1000-branch union tree would spend minutes in analysis
      // alone; the two-level composition is the same corpus shape.
      // NOTE (round-10 advice): the two paths are NOT byte-identical
      // — replica text suffixes compose (tokx37x9 vs tokx379), so
      // token/char statistics differ slightly and 1000x numbers are
      // only comparable within one build path; print which path ran
      // so the bench record carries it.
      if (scale == 1000 &&
          new java.io.File("/tmp/sf10probe/documents.parquet").exists()) {
        println("[probe] 1000x build path: 10 replicas of the cached" +
          " 100x corpus (composed suffixes — numbers comparable only" +
          " within this path)")
        buildCorpus(spark, "/tmp/sf10probe", dir, replicas = 10,
          withEvents = false)
      } else {
        if (scale == 1000) println("[probe] 1000x build path: direct" +
          " 1000 replicas of sf0.1 (no cached 100x corpus)")
        buildCorpus(spark, "/root/testdata/sf0.1", dir,
          replicas = scale, withEvents = false)
      }
      println(f"[probe] corpus built in ${(System.nanoTime() - tBuild) / 1e9}%.1fs " +
        s"(${spark.read.parquet(s"$dir/documents.parquet").count()} docs)")
    } else println(s"[probe] reusing ${scale}x corpus at $dir")
    dir
  }

  def probeDeep(spark: SparkSession, scale: Int, reps: Int): Unit = {
    val dir = ensureDeepCorpus(spark, scale)
    val named = sys.env.get("SPARK_GRAFT_PROBE_QUERIES")
      .map(_.split(",").map(_.trim).toSeq).getOrElse(DeepQueries)
    // Exhaustive O(|Q|·|C|) baselines are documented bandwidth
    // references, not production paths (s_ann_pq measured 153 s at
    // 100× vs 24.9 s for the IVF-PQ production entry; s_ann_brute is
    // the raw-vector equivalent). Deep probes skip them unless
    // explicitly opted in, so a full-family sweep never silently pays
    // the known cliff — the r8-verdict decision, recorded in
    // BASELINE.md.
    // s_ann_pq_balanced is the same exhaustive ADC scan as s_ann_pq
    // (the balancing changes the FIT layout, not the probe cost)
    // s_ann_pq_opq is the same exhaustive ADC scan again (the trained
    // rotation changes the FIT layout, not the probe cost)
    val exhaustive = Set("s_ann_pq", "s_ann_brute", "s_ann_pq_balanced",
      "s_ann_pq_opq")
    val optIn = sys.env.contains("SPARK_GRAFT_PROBE_EXHAUSTIVE")
    val queries = named.filter { q =>
      val keep = optIn || !exhaustive(q)
      if (!keep) println(s"[probe] $q skipped (exhaustive baseline; " +
        "set SPARK_GRAFT_PROBE_EXHAUSTIVE=1 to run)")
      keep
    }
    for (q <- queries) {
      val times = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        SparkEntry.queries(q)(spark, dir)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] $q%-20s min ${times.min}%7.2fs  " +
        f"(runs ${times.map(t => f"$t%.2f").mkString("/")})")
      Scratch.audit(q, SparkEntry.queries(q)(spark, dir))
    }
    // Hot-block rescue under real fire: this corpus's max natural
    // min-shingle block is ~15 docs per replica, so the catalog cap
    // (1000) never triggers; cap=8 routes every real over-cap block
    // through the MinHash rescue at full 500k-doc scale — measuring
    // the rescue path itself, not just its cold bypass. (Default-set
    // runs only; a custom query list skips it.)
    if (sys.env.get("SPARK_GRAFT_PROBE_QUERIES").isEmpty) {
      val docs = Tables.documents(spark, dir)
      val times = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        graft.ext.Dedup.jaccardPairs(docs, "doc_id", "text",
            n = 3, threshold = 0.2, maxBlockSize = 8)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] jaccard(cap=8,rescue) min ${times.min}%7.2fs  " +
        f"(runs ${times.map(t => f"$t%.2f").mkString("/")})")
    }
  }

  /** Phrase-search diagnosis + production split
    * (`ScaleProbe <reps> <scale> phrase`). One phrase set (the
    * catalog's quarter-sample top-bigram derivation) is derived once
    * and shared, then:
    *  - the build-per-query search runs with its per-query postings
    *    persist at MEMORY_AND_DISK (the catalog shape), DISK_ONLY,
    *    and with NO persist — isolating whether the 1000× step lives
    *    in the persist (spill/memory pressure) or in the recomputed
    *    double scan;
    *  - the persisted index is built ONCE (timed) and the
    *    partition-pruned probe is timed alone — the production split
    *    the d_phrase_index_scan entry amortizes. */
  def probePhrase(spark: SparkSession, scale: Int, reps: Int): Unit = {
    import org.apache.spark.storage.StorageLevel
    val dir = ensureDeepCorpus(spark, scale)
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"))
    val tDer0 = System.nanoTime()
    val top = graft.queries.TrainingData.topBigrams(base, 4L)
    println(f"[probe] phrase derivation (mod 4) " +
      f"${(System.nanoTime() - tDer0) / 1e9}%7.2fs")
    val variants: Seq[(String, Option[StorageLevel])] = Seq(
      "persist=mem_and_disk" -> Some(StorageLevel.MEMORY_AND_DISK),
      "persist=disk_only" -> Some(StorageLevel.DISK_ONLY),
      "persist=none" -> None)
    for ((name, lvl) <- variants) {
      val times = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        graft.ext.Retrieval.phraseSearchWith(base, top, lvl)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] search $name%-22s min ${times.min}%7.2fs  " +
        f"(runs ${times.map(t => f"$t%.2f").mkString("/")})")
    }
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_phraseidx_probe").toString
    try {
      val tB0 = System.nanoTime()
      graft.ext.Retrieval.buildPhraseIndex(base, idxDir)
      println(f"[probe] index build (once)     " +
        f"${(System.nanoTime() - tB0) / 1e9}%7.2fs")
      val probeTimes = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        graft.ext.Retrieval.phraseIndexProbe(spark, idxDir, top)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] index probe (pruned)   min ${probeTimes.min}%7.2fs  " +
        f"(runs ${probeTimes.map(t => f"$t%.2f").mkString("/")})")
      // derivation legs at this scale: the catalog's text-sample
      // aggregate at the auto mod vs the sampled postings-pair
      // aggregate over the index just built (verdict #5: keep the
      // cheaper; both must agree with the shared phrase set)
      val autoMod = graft.queries.TrainingData.autoSampleMod(
        base.count())
      val tTxt = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        graft.queries.TrainingData.topBigrams(base, autoMod)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] derive text (mod=$autoMod%d)   min " +
        f"${tTxt.min}%7.2fs  " +
        f"(runs ${tTxt.map(t => f"$t%.2f").mkString("/")})")
      val tIdx = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        graft.ext.Retrieval.topBigramsFromIndex(spark, idxDir, autoMod)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] derive index (mod=$autoMod%d)  min " +
        f"${tIdx.min}%7.2fs  " +
        f"(runs ${tIdx.map(t => f"$t%.2f").mkString("/")})")
    } finally graft.queries.QueryUtil.deleteRecursively(idxDir)
  }

  /** Stored-ANN-index production split (`ScaleProbe <reps> <scale>
    * annindex`): the coded IVF-PQ layout — label-partitioned codes +
    * codebooks + coarse centroids — is built ONCE (timed), then the
    * partition-pruned probe is timed alone, the split the
    * s_ann_index_scan entry amortizes (the d_phrase_index_scan
    * treatment for the ANN family). */
  def probeAnnIndex(spark: SparkSession, scale: Int, reps: Int): Unit = {
    val dir = ensureDeepCorpus(spark, scale)
    val emb = Tables.embeddings(spark, dir)
    val qids = graft.ext.Similarity.sampleQueryIds(
      emb.filter(col("embedding").isNotNull), 16)
    val spec = graft.ext.PqSpec(m = 16, kSub = 32, iters = 2,
      coarse = Some(graft.ext.Coarse.Labels(nprobe = 3)), fitSampleMod = 4L)
    val idxDir = java.nio.file.Files
      .createTempDirectory("graft_pqidx_probe").toString
    try {
      val tB0 = System.nanoTime()
      graft.ext.Similarity.buildPqIndex(spec, emb, idxDir)
      println(f"[probe] pq index build (once)  " +
        f"${(System.nanoTime() - tB0) / 1e9}%7.2fs")
      val probeTimes = (0 until reps).map { _ =>
        val t0 = System.nanoTime()
        graft.ext.Similarity.pqIndexProbe(spark, idxDir, spec, emb,
            qids, k = 5)
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      println(f"[probe] pq index probe (pruned) min " +
        f"${probeTimes.min}%7.2fs  " +
        f"(runs ${probeTimes.map(t => f"$t%.2f").mkString("/")})")
    } finally graft.queries.QueryUtil.deleteRecursively(idxDir)
  }

  /** MV-refresh production split (`ScaleProbe <reps> <scale>
    * mvrefresh`, over the replicated star): the store — yesterday's
    * MV + the month-partitioned fact layout — is built ONCE (timed),
    * then the refresh plan (stored-MV scan + one pruned month) is
    * timed alone against the full-recompute leg, so the probe row
    * answers the actual question: is refresh cost bounded by the
    * delta rather than history? */
  def probeMvRefresh(spark: SparkSession, scale: Int, reps: Int): Unit = {
    val star = s"/tmp/tpch${scale}x"
    require(new java.io.File(s"$star/orders.parquet").exists(),
      s"$star missing — run `ScaleProbe <reps> $scale tpch` first")
    val orders = Tables.orders(spark, star)
    val mvDir = java.nio.file.Files
      .createTempDirectory("graft_mv_probe").toString
    val factDir = java.nio.file.Files
      .createTempDirectory("graft_mvfact_probe").toString
    try {
    val tB0 = System.nanoTime()
    graft.ext.MvRefresh.buildStore(orders, mvDir, factDir)
    println(f"[probe] mv store build (once)  " +
      f"${(System.nanoTime() - tB0) / 1e9}%7.2fs")
    val refreshTimes = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      graft.ext.MvRefresh.refresh(spark, mvDir, factDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"[probe] refresh (MV + 1 month) min ${refreshTimes.min}%7.2fs  " +
      f"(runs ${refreshTimes.map(t => f"$t%.2f").mkString("/")})")
    import org.apache.spark.sql.types.DecimalType
    val recomputeTimes = (0 until reps).map { _ =>
      val t0 = System.nanoTime()
      orders
        .filter(col("o_orderdate") <
          lit(graft.ext.MvRefresh.NewCutoff).cast("timestamp"))
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 6)))
            .as("_spend"))
        .select(col("o_custkey"), col("n_orders"),
          col("_spend").cast("double").as("total_spend"),
          round(col("_spend").cast("double") / col("n_orders"), 6)
            .as("avg_spend"))
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    println(f"[probe] full recompute leg     min ${recomputeTimes.min}%7.2fs  " +
      f"(runs ${recomputeTimes.map(t => f"$t%.2f").mkString("/")})")
    } finally {
      graft.queries.QueryUtil.deleteRecursively(mvDir)
      graft.queries.QueryUtil.deleteRecursively(factDir)
    }
  }
}
