package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types._

/** Approximate-nearest-neighbor search over an embedding column
  * (`array<float>`).
  *
  * Every cosine or PQ top-k is one [[IvfSpec]] run by [[ivfSearch]]:
  * the exhaustive scan broadcasts the (small) query set against the
  * corpus at O(|Q|·|C|) work; LSH buckets, label, k-means and
  * two-level cells prune the candidates. SemDeDup ([[semDedup]]) and
  * the embedding-cosine near-dups ([[embedDupPairs]],
  * [[embedDupProbe]]: one [[EmbedDupSpec]]) have their own specs; MIPS
  * ([[mipsTopK]]) scores inner products over a norm-augmented corpus.
  */
object Similarity {

  /** Cosine similarity of two double arrays as a strict left-to-right
    * fold (deterministic accumulation order — see QueryUtil notes).
    * Uses the codegen'd [[graft.functions.DotProduct]] kernel; the
    * `aggregate(zip_with(...))` HOF formulation computes the same
    * value through an interpreted lambda per element (~10³× slower —
    * it dominated every ANN query's runtime). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  private def dot(x: Column, y: Column): Column =
    graft.functions.ArrayOps.dot_product(x, y)

  def toDouble(v: Column): Column = transform(v, _.cast("double"))

  /** Deterministic fixed-size query sample: the `n` vec_ids with the
    * smallest portable multiplicative hash (MINSTD multiplier, mod
    * 2^31−1; ties by vec_id). The input id is reduced mod 2^31−1
    * BEFORE the multiply so the product never overflows a 64-bit long
    * at any BIGINT id — overflow would wrap silently in Spark but
    * raise in other engines, breaking oracle parity. A fixed n keeps
    * any eval built on the sample O(n·|C|) regardless of corpus size
    * (the production recall-eval recipe); the orderBy+limit compiles
    * to a per-partition top-n (TakeOrderedAndProject) — no global
    * sort shuffle. */
  def sampleQueryIds(base: DataFrame, n: Int): DataFrame =
    base.select(col("vec_id"),
        pmod(pmod(col("vec_id"), lit(2147483647L)) * lit(48271L),
          lit(2147483647L)).as("_h"))
      .orderBy(col("_h"), col("vec_id"))
      .limit(n)
      .select(col("vec_id"))

  /** Shared top-k ranking: score every (query, candidate) pair fed in
    * and keep the k best per query `qid`, ties by `nid`. Scores are
    * rounded before ranking so the ordering is reproducible
    * cross-engine. */
  private def rankTopK(scored: DataFrame, k: Int, qid: String = "query_id",
      nid: String = "neighbor_id", score: String = "cos_sim"): DataFrame = {
    val w = Window.partitionBy(col(qid))
      .orderBy(desc(score), asc(nid))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplanes: numPlanes × dim doubles
    * from a seeded JVM PRNG, shipped as plan literals. */
  def hyperplanes(numPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(numPlanes)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Maximum-inner-product search (MIPS) via norm augmentation
    * (Bachrach et al. 2014, "XBOX"): when corpus vectors carry
    * meaningful NORMS (recommendation scores, popularity-weighted
    * embeddings), top-k by inner product ≠ top-k by cosine, and
    * angular LSH cannot index it directly. The reduction appends one
    * coordinate `√(M² − ‖v‖²)` to every corpus vector (M = max corpus
    * norm) and `0` to the query — inner-product order in the original
    * space becomes cosine order in the augmented space, so the
    * existing sign-projection LSH buckets (over dim+1 planes) serve
    * as the candidate generator. Candidates are then ranked by the
    * EXACT raw inner product.
    *
    * The corpus here is the unit-norm embedding table given
    * deterministic synthetic norms `w = 1 + (vec_id mod 5)` — the
    * shape a popularity-weighted deployment has.
    *
    * Scale shape: the [[Coarse.Lsh]] search's — the corpus is bucketed
    * once (narrow projection; the 1-row max-norm frame broadcasts),
    * candidates come from a bucket equi-join against the broadcast
    * |Q|-row query frame, and no pair outside the query's bucket is
    * ever scored. NULL, NULL-element and zero-norm embeddings drop
    * ([[vectorRows]]), from the corpus and the queries alike; a dim
    * mismatch fails fast. */
  def mipsTopK(embeddings: DataFrame, queryIds: DataFrame, k: Int,
      numPlanes: Int, seed: Long, dim: Int = 64): DataFrame = {
    val base0 = vectorRows(embeddings, Seq(col("vec_id")), Some(dim),
      "mipsTopK")
    val scaled = base0.select(col("vec_id"),
      transform(col("emb"), x =>
        x * (lit(1.0) + pmod(col("vec_id"), lit(5L)).cast("double")))
        .as("sv"))
    val m2 = scaled.agg(max(dot(col("sv"), col("sv"))).as("m2"))
    val planes = hyperplanes(numPlanes, dim + 1, seed)
    val bucketed = scaled.crossJoin(broadcast(m2))
      .select(col("vec_id"), col("sv"),
        graft.functions.HyperplaneBuckets(
          concat(col("sv"), array(sqrt(greatest(lit(0.0),
            col("m2") - dot(col("sv"), col("sv")))))),
          Seq(planes)).getItem(0).as("bucket"))
    val q = base0.join(broadcast(queryIds), Seq("vec_id"))
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"),
        graft.functions.HyperplaneBuckets(
          concat(col("emb"), array(lit(0.0))),
          Seq(planes)).getItem(0).as("q_bucket"))
    val scored = bucketed.join(broadcast(q),
        col("bucket") === col("q_bucket") &&
        col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("q_emb"), col("sv")), 6).as("ip"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(desc("ip"), asc("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
  }

  /** Embedding-cosine near-duplicate pairs of `spec` — the
    * vector-space member of the dedup family: every pair whose
    * rounded cosine is ≥ the threshold among those sharing a bucket of
    * any LSH table, as (vec_a, vec_b, cos_sim) with vec_a < vec_b.
    * NULL, NULL-element and zero-norm embeddings drop ([[vectorRows]]:
    * a zero vector's norm divides by zero); a dim mismatch fails fast.
    *
    * Scale shape mirrors [[Dedup.nearDupPairs]]: the bucket self-join
    * ships only (vec_id, table, bucket); embeddings and norms reattach
    * by id equi-join; a pair colliding in several tables is verified
    * once per table (one dot product is cheaper than a distinct
    * shuffle over every candidate) and the small passing set dedups
    * at the end. */
  def embedDupPairs(spec: EmbedDupSpec, embeddings: DataFrame): DataFrame =
    embedDups(spec, embeddings, None)

  /** Embedding-space benchmark decontamination with `spec`: the rows
    * where `isEval` holds are the held-out eval set, the rest the
    * training corpus, and candidates pair only across the split. One
    * verdict row per eval vector: (eval_id, n_matches, best_sim — NULL
    * when clean —, contaminated). Paraphrased eval items share no
    * 5-grams with their source (the lexical `d_decontaminate` gate)
    * but still sit at high cosine. The same rows as
    * [[embedDupPairs]] drop. The eval side is a benchmark, constant
    * while the corpus grows, so the bucket join probes the corpus's
    * buckets with a small key set (the optimizer broadcasts it). */
  def embedDupProbe(spec: EmbedDupSpec, embeddings: DataFrame,
      isEval: Column): DataFrame =
    embedDups(spec, embeddings, Some(isEval))

  /** The one body of [[embedDupPairs]] and [[embedDupProbe]]: guarded
    * base (persisted: it feeds the count, the keying and both
    * reattaches) → every table's bucket from one kernel call → id-pair
    * candidates → rounded-cosine verify → localCheckpoint, so the base
    * is released before this returns. */
  private def embedDups(spec: EmbedDupSpec, embeddings: DataFrame,
      isEval: Option[Column]): DataFrame = {
    val evalCol = isEval.map(_ => col("_eval")).toSeq
    val base = vectorRows(embeddings,
        col("vec_id") +: isEval.map(_.as("_eval")).toSeq,
        Some(spec.dim), "EmbedDupSpec")
      .withColumn("norm", sqrt(dot(col("emb"), col("emb"))))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val planes = spec.planes(base.count())
      val keyed = base.select(col("vec_id") +: evalCol :+
          posexplode(graft.functions.HyperplaneBuckets(col("emb"),
            (0 until spec.tables).map(t =>
              hyperplanes(planes, spec.dim, spec.seed + t)))): _*)
        .withColumnsRenamed(Map("pos" -> "table", "col" -> "bucket"))
      val (a, b, order) =
        if (isEval.isEmpty) (keyed, keyed, col("a.vec_id") < col("b.vec_id"))
        else (keyed.filter(col("_eval")), keyed.filter(!col("_eval")), lit(true))
      val cand = a.alias("a").join(b.alias("b"),
          col("a.table") === col("b.table") &&
          col("a.bucket") === col("b.bucket") && order)
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"))
      def side(s: String) = base.select(col("vec_id").as(s"vec_$s"),
        col("emb").as(s"emb_$s"), col("norm").as(s"norm_$s"))
      // no broadcast hint: the optimizer broadcasts while base is small
      // and falls back to an id-partitioned shuffle join at scale
      val hits = cand.join(side("a"), "vec_a").join(side("b"), "vec_b")
        .select(col("vec_a"), col("vec_b"),
          round(dot(col("emb_a"), col("emb_b")) /
            (col("norm_a") * col("norm_b")), 6).as("cos_sim"))
        .filter(col("cos_sim") >= spec.threshold)
        .distinct()
      val out = if (isEval.isEmpty) hits else {
        val perEval = hits.groupBy(col("vec_a").as("eval_id"))
          .agg(count(lit(1)).as("n_matches"),
            max(col("cos_sim")).as("best_sim"))
        base.filter(col("_eval")).select(col("vec_id").as("eval_id"))
          .join(perEval, Seq("eval_id"), "left")
          .select(col("eval_id"),
            coalesce(col("n_matches"), lit(0L)).as("n_matches"),
            col("best_sim"), col("n_matches").isNotNull.as("contaminated"))
      }
      out.localCheckpoint()
    } finally base.unpersist()
  }

  /** Deterministic Lloyd's k-means over an embedding frame
    * (`vec_id`, `emb`): seeds are the `k` smallest vec_ids, every
    * iteration assigns by rounded cosine (ties → smallest cluster id)
    * and recomputes centroids with order-independent decimal sums —
    * so the fit is bit-reproducible across runs, partitionings, AND
    * engines (the DuckDB oracle unrolls the same iterations).
    *
    * The centroid mean is deliberately NOT rounded: `decimal-sum →
    * double → ÷ count` is one IEEE division of identical inputs —
    * bit-identical in both engines — whereas `round(mean, 6)` was a
    * cross-engine divergence point. A 6-decimal-quantized sum divided
    * by a count with only 2/5 prime factors terminates EXACTLY on a
    * 7th-decimal half (e.g. S=0.105872/2 = .0529355…ish), where
    * Spark (HALF_UP on the exact binary expansion) and DuckDB
    * (scaled-multiply round) legitimately disagree — observed once
    * across 4096 means in the m=16 PQ fit. Cluster counts are small,
    * so such counts are common; dropping the round removes the
    * entire hazard class instead of shrinking it.
    * Placement: a fit corpus within [[DriverFitMaxDoubles]] collects
    * in one job and is fitted on the driver ([[DriverLloyd]]); the
    * centroids come back as a LocalRelation, which consumers collect
    * or broadcast job-free. Past the gate, or in reliable [[Ckpt]]
    * mode, the distributed loop runs ([[kmeansSpark]]). Both give the
    * same frame (LloydFormSpec). */
  def kmeansCentroids(base: DataFrame, k: Int, iters: Int): DataFrame =
    kmeansFit(base, k, iters, Cosine, FitDim)

  /** The flat k-means of one metric: on the driver when the fit corpus
    * collects within the gate, else distributed. */
  private def kmeansFit(base: DataFrame, k: Int, iters: Int,
      metric: Metric, dim: Int): DataFrame =
    kmeansOn(base, collectFit(base, dim), k, iters, metric)

  /** [[kmeansFit]] on the collected fit corpus `rows` of `base`. */
  private def kmeansOn(base: DataFrame, rows: Option[FitRows], k: Int,
      iters: Int, metric: Metric): DataFrame =
    rows.flatMap(r => DriverLloyd.mirrored(
        DriverLloyd.fit(r, r.all, k, iters, metric)))
      .fold(kmeansSpark(base, k, iters, metric))(c =>
        centroidFrame(base.sparkSession, Nil, Seq(Nil -> c), "cid"))

  /** The distributed flat k-means loop. In LUT mode (k within the
    * plan-literal gate) each assignment COLLECTS the centroid frame and
    * embeds it as literals, so lineage is flat without truncation;
    * past the gate (k ∝ N shapes) the broadcast-row assignment keeps
    * the plan chained, so every round truncates via [[Ckpt]]. The
    * final state is a Ckpt either way. Lut ≡ Bcast is pinned by
    * AssignFormSpec. */
  private def kmeansSpark(base: DataFrame, k: Int, iters: Int,
      metric: Metric): DataFrame = {
    val lutMode = k <= AssignLutMaxCentroids
    lloyd(lloydSeed(base, k), iters, Seq("cid"), "emb")(c =>
      if (lutMode) metric.lut(base, collectedSorted(c))
      else metric.bcast(base, c))((c, last) =>
      if (lutMode && !last) c else Ckpt(c))
  }

  /** The one distributed Lloyd loop under every k-means fit here
    * (flat, L2, PQ codebooks, two-level sub-cells): `iters` rounds of
    * `assign` (the fit corpus labelled with its nearest of the current
    * centroids) followed by the exact decimal-mean update per `cell`;
    * `place` decides each round's placement (`last` for the final
    * one). [[DriverLloyd]] mirrors it on the driver. */
  private def lloyd(seed: DataFrame, iters: Int, cell: Seq[String],
      vec: String)(assign: DataFrame => DataFrame)(
      place: (DataFrame, Boolean) => DataFrame): DataFrame =
    (0 until iters).foldLeft(seed) { (cents, i) =>
      place(decimalMeans(assign(cents), cell, vec), i == iters - 1)
    }

  /** The per-`cell` exact decimal-mean centroid frame (cell…, centroid)
    * of the vector column `vec` — ONE definition for every Lloyd update
    * and every label-celled coarse level. The component mean uses the
    * exact-decimal sum (QueryUtil strategy): engine AVG accumulates
    * doubles in partition order, which is nondeterministic across runs
    * and engines; this form is order-independent and
    * SQL-reproducible. */
  private def decimalMeans(assigned: DataFrame, cell: Seq[String],
      vec: String): DataFrame = {
    val keys = cell.map(col)
    assigned
      .select(keys :+ posexplode(col(vec)).as(Seq("dim", "v")): _*)
      .groupBy(keys :+ col("dim"): _*)
      .agg((graft.queries.QueryUtil.sumDec(col("v")) /
        count(lit(1))).as("cv"))
      .groupBy(keys: _*)
      .agg(transform(
        array_sort(collect_list(struct(col("dim"), col("cv")))),
        x => x("cv")).as("centroid"))
  }

  /** Lloyd seeds: the `k` smallest-vec_id rows of `base` as
    * (cid, centroid), numbered by vec_id. The ≤ k rows collect in one
    * top-k job and are numbered on the DRIVER — a LocalRelation, so no
    * unpartitioned window runs and a LUT-mode first iteration reads
    * the seeds job-free. */
  private def lloydSeed(base: DataFrame, k: Int): DataFrame =
    localFrame(base.sparkSession, StructType(Seq(
        StructField("cid", IntegerType), base.schema("emb")
          .copy(name = "centroid"))),
      base.orderBy("vec_id").limit(k).select(col("emb")).collect()
        .toSeq.zipWithIndex.map { case (r, i) => Row(i, r.get(0)) })

  /** Per-`key` k-means of `k` sub-cells (key, scid, centroid) over
    * `base` (vec_id, key, emb), distributed: seeded per key on its `k`
    * smallest vec_ids, then [[lloyd]] with the [[assignSubClusters]]
    * projection. Every round is truncated through [[Ckpt]] (the
    * broadcast-LUT sub-assign never collects, so the plan would
    * otherwise chain geometrically). The two-level IVF grid keys it on
    * `label`, the hierarchical SemDeDup on `cid` — both fit on the
    * driver within the gate ([[DriverLloyd.perKey]]) — and the PQ
    * codebooks on `sub` under [[L2]]. */
  private def subCellFit(base: DataFrame, key: String, k: Int,
      iters: Int, metric: Metric = Cosine): DataFrame = {
    val w = Window.partitionBy(col(key)).orderBy(col("vec_id"))
    val seed = base.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col(key), (col("rn") - 1).cast("int").as("scid"),
        col("emb").as("centroid"))
    lloyd(seed, iters, Seq(key, "scid"), "emb")(
      assignSubClusters(base, _, key, metric))((c, _) => Ckpt(c))
  }

  /** Rows of `schema` as a LocalRelation: collects of it are job-free. */
  private[graft] def localFrame(spark: org.apache.spark.sql.SparkSession,
      schema: StructType, rows: Seq[Row]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)

  private def isLocal(df: DataFrame): Boolean =
    df.queryExecution.logical
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]

  /** Bounded collect of a ≤[[AssignLutMaxCentroids]]-row centroid
    * frame in [[assignClustersLut]]'s (cid-sorted) input form. */
  private def collectedSorted(centroids: DataFrame)
      : Seq[(Int, Seq[Double])] =
    centroids.select(col("cid"), col("centroid")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))
      .sortBy(_._1).toSeq

  /** The embedding dimension the fits of the public k-means and the
    * IVF levels size the driver gate's row cap with. */
  private val FitDim = 64

  /** The driver-side Lloyd fit's budget: a fit corpus of at most this
    * many doubles (rows × dim, 8 MB) collects in one job and is fitted
    * in Scala. The collect stops at this budget over the caller's dim
    * in rows; the actual rows × dim is checked again after it. Every
    * catalog fit sits under it (the largest, the sf0.1 PQ fits, is
    * 2000 × 64); past it each fit runs distributed, one Spark job or
    * more per round. */
  private val DriverFitMaxDoubles = 1 << 20

  /** A fit corpus on the driver: per row its `vec_id` (as collected,
    * and as a long), an optional cell key and the vector; `units` are
    * the vectors' Decimal(18,6) units — what [[decimalMeans]] sums. */
  private final class FitRows(val rawIds: Array[Any], val ids: Array[Long],
      val keys: Array[Any], val vecs: Array[Array[Double]]) {
    lazy val units: Array[Array[Long]] = vecs.map(_.map(DriverLloyd.units))
    def size: Int = ids.length
    def all: Array[Int] = Array.range(0, size)
    /** Row `i`'s vector replaced by `f(i)`. */
    def withVecs(f: Int => Array[Double]): FitRows =
      new FitRows(rawIds, ids, keys, Array.tabulate(size)(f))
    /** The `len` components from `from` of every vector. */
    def slice(from: Int, len: Int): FitRows =
      withVecs(vecs(_).slice(from, from + len))
    /** The rows `ix`. */
    def select(ix: Array[Int]): FitRows = new FitRows(ix.map(rawIds),
      ix.map(ids), ix.map(keys), ix.map(vecs))
  }

  /** Collect `df`'s (vec_id, [key,] emb) rows for a driver fit: None in
    * reliable mode, past [[DriverFitMaxDoubles]], or when a row holds
    * what the driver does not mirror (a NULL id, key, vector or
    * element, a non-finite element, vectors of unequal length) — the
    * caller then runs the distributed fit. */
  private def collectFit(df: DataFrame, dim: Int,
      key: Option[String] = None): Option[FitRows] =
    if (Ckpt.reliable(df.sparkSession)) None
    else {
      val cap = DriverFitMaxDoubles / math.max(1, dim)
      val rows = df.select(col("vec_id") +: key.map(col).toSeq :+
        col("emb"): _*).limit(cap + 1).collect()
      val iEmb = if (key.isDefined) 2 else 1
      if (rows.length > cap) None
      else DriverLloyd.mirrored {
        def nonNull(v: Any): Any =
          if (v == null) throw new DriverLloyd.NotMirrored else v
        val vecs = rows.map(r => nonNull(r.get(iEmb))
          .asInstanceOf[scala.collection.Seq[Any]].map {
            case d: java.lang.Double if !d.isNaN && !d.isInfinite =>
              d.doubleValue
            case _ => throw new DriverLloyd.NotMirrored
          }.toArray)
        val n = if (vecs.isEmpty) 0 else vecs(0).length
        if (vecs.exists(_.length != n)) throw new DriverLloyd.NotMirrored
        val raw = rows.map(r => nonNull(r.get(0)))
        new FitRows(raw, raw.map(_.asInstanceOf[Number].longValue),
          rows.map(r => if (key.isEmpty) null else nonNull(r.get(1))),
          vecs)
      }.filter(r => r.size.toLong * r.vecs.headOption.fold(0)(_.length) <=
        DriverFitMaxDoubles)
    }

  /** The field of every fitted centroid vector. */
  private val CentroidField =
    StructField("centroid", ArrayType(DoubleType, containsNull = true))

  /** Driver-fitted cells as a LocalRelation (keys…, `id`, centroid):
    * one row per centroid of each `(key values, centroids)` pair. */
  private def centroidFrame(spark: org.apache.spark.sql.SparkSession,
      keyFields: Seq[StructField], cells: Seq[(Seq[Any], DriverLloyd.Cents)],
      id: String): DataFrame =
    localFrame(spark, StructType(keyFields ++ Seq(
        StructField(id, IntegerType), CentroidField)),
      for ((key, c) <- cells; j <- c.ids.indices)
        yield Row.fromSeq(key ++ Seq(c.ids(j), c.vecs(j).toSeq)))

  /** The assignment metric of a Lloyd fit: the candidate struct each
    * centroid scores as and the pick among them, ONE definition under
    * both Spark projection forms (plan-literal LUT, broadcast row) and
    * the PQ encode, so no two physical shapes can drift —
    * [[DriverLloyd.nearest]] is the driver's mirror. */
  private sealed abstract class Metric {
    /** `emb`'s candidate struct against centroid `c` of id `i`, the id
      * field named `id`. */
    def cand(emb: Column, id: String)(c: Column, i: Column): Column
    /** The best of an array of candidates. */
    def pick(cands: Column): Column

    /** The `id` of `emb`'s nearest centroid among the parallel arrays
      * `cents`/`ids`. */
    def nearest(cents: Column, ids: Column, emb: Column,
        id: String = "cid"): Column =
      pick(zip_with(cents, ids, cand(emb, id))).getField(id)

    /** Plan-literal projection form of [[assign]] — centroids already
      * collected and sorted by cid. */
    def lut(base: DataFrame, sorted: Seq[(Int, Seq[Double])]): DataFrame =
      base.select(col("vec_id"), col("emb"), nearest(typedLit(sorted.map(_._2)),
        typedLit(sorted.map(_._1)), col("emb")).as("cid"))

    /** Broadcast one-row LUT form of [[assign]] — the k ∝ N shape. The
      * codebook aggregates to a SINGLE row of two arrays (sorted by
      * cid, so candidate order matches the literal form), broadcast and
      * cross-joined: every base row runs the IDENTICAL projection as
      * the literal form — no N·k row expansion, no N-group argmin
      * aggregate (the shape that spilled at the 1000× tier, r12
      * pqAssign finding), no k·dim plan literal. The only moving data
      * is one k·dim-double broadcast row. */
    def bcast(base: DataFrame, centroids: DataFrame): DataFrame = {
      val lutRow = broadcast(centroids
        .agg(array_sort(collect_list(struct(col("cid"), col("centroid"))))
          .as("_lut"))
        .select(transform(col("_lut"), e => e("centroid")).as("_cent_lut"),
          transform(col("_lut"), e => e("cid")).as("_cid_lut")))
      base.crossJoin(lutRow)
        .select(col("vec_id"), col("emb"), nearest(col("_cent_lut"),
          col("_cid_lut"), col("emb")).as("cid"))
    }

    /** Nearest-centroid assignment, ties to the smallest cid —
      * deterministic and SQL-mirrorable. Physical shape (the r12
      * pqAssign finding, measured at the 1000× tier): ALWAYS a per-row
      * projection over the candidate array — never the broadcast-join +
      * N-group argmin aggregate, which SPILLS once N·k outgrows executor
      * memory. Up to [[AssignLutMaxCentroids]] centroids the codebook
      * embeds as plan literals ([[lut]], whole-stage codegen); above
      * the gate it arrives as one broadcast row ([[bcast]]). Both rank
      * the same collected doubles in the same cid order —
      * bit-identical, AssignFormSpec pins frame equality — so the
      * DuckDB oracles verify either shape unchanged. */
    def assign(base: DataFrame, centroids: DataFrame): DataFrame = {
      val local = centroids.select(col("cid"), col("centroid"))
        .limit(AssignLutMaxCentroids + 1).collect()
      if (local.length > AssignLutMaxCentroids) bcast(base, centroids)
      else lut(base, local
        .map(r => (r.getInt(0), r.getSeq[Double](1).toSeq))
        .sortBy(_._1).toSeq)
    }
  }

  /** Rounded cosine: `array_max` over (a_sim, −cid, cid) orders by
    * similarity then smallest cid — `row_number() OVER (ORDER BY a_sim
    * DESC, cid ASC) = 1`. */
  private case object Cosine extends Metric {
    def cand(emb: Column, id: String)(c: Column, i: Column): Column =
      struct(round(cosine(emb, c), 6).as("a_sim"),
        (-i).as(s"neg_$id"), i.as(id))
    def pick(cands: Column): Column = array_max(cands)
  }

  /** Rounded squared L2 ([[l2sq]]): `array_min` over (a_d2, cid) orders
    * by distance then smallest cid. */
  private case object L2 extends Metric {
    def cand(emb: Column, id: String)(c: Column, i: Column): Column =
      struct(l2sq(emb, c).as("a_d2"), i.as(id))
    def pick(cands: Column): Column = array_min(cands)
  }

  /** Lloyd on the driver, mirroring the distributed forms' arithmetic
    * bit for bit by reusing Spark's own: the [[graft.functions.DotProduct]]
    * kernel's left-to-right accumulation, `Round`'s BigDecimal HALF_UP,
    * the `Decimal(18,6)` cast (`Decimal(v).changePrecision`), the exact
    * decimal sum, `Decimal.toDouble` and one IEEE `/ count`; cosine
    * ranks by (a_sim, −cid), L2 by (d2, cid), and a cell that empties
    * drops out. What it does not mirror — a zero divisor (an error
    * under ANSI, NULL otherwise), a NaN score, a decimal overflow —
    * raises [[NotMirrored]], and the caller runs the distributed fit,
    * which then behaves exactly as it always has. */
  private object DriverLloyd {

    final class NotMirrored extends RuntimeException(null, null, false, false)

    def mirrored[T](f: => T): Option[T] =
      try Some(f) catch {
        case _: NotMirrored | _: ArithmeticException => None
      }

    /** Centroids of one round, cid-ascending, with ⟨c,c⟩. */
    final class Cents(val ids: Array[Int], val vecs: Array[Array[Double]]) {
      val sq: Array[Double] = vecs.map(v => dot(v, v))
    }

    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }

    /** Spark's `round(x, 6)` on a double. */
    def round6(x: Double): Double =
      if (x.isNaN || x.isInfinite) x
      else BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

    /** `x` cast to DECIMAL(18,6), as an unscaled long. */
    def units(x: Double): Long = {
      val d = Decimal(x)
      if (!d.changePrecision(18, 6)) throw new NotMirrored
      d.toUnscaledLong
    }

    /** `iters` Lloyd rounds over the rows `ix` of `rows`, seeded on
    * their `k` smallest vec_ids. */
    def fit(rows: FitRows, ix: Array[Int], k: Int, iters: Int,
        metric: Metric): Cents = {
      val seeds = ix.sortBy(rows.ids(_)).take(k)
      (0 until iters).foldLeft(
          new Cents(Array.range(0, seeds.length), seeds.map(rows.vecs))) {
        (c, _) => means(rows, ix, ix.map(i => nearest(metric, rows.vecs(i), c)))
      }
    }

    /** [[fit]] per key group (key value → its rows). */
    def perKey(rows: FitRows, groups: Seq[(Any, Array[Int])], k: Int,
        iters: Int): Seq[(Any, Cents)] =
      groups.map { case (key, ix) => key -> fit(rows, ix, k, iters, Cosine) }

    /** Row indices grouped by `key`, in ascending order of their first
      * row. */
    def groupBy(ix: Array[Int], key: Int => Any): Seq[(Any, Array[Int])] =
      ix.groupBy(key).toSeq.sortBy(_._2.head)

    /** Each key's exact decimal mean, keys in first-row order. */
    def keyMeans(rows: FitRows): Seq[(Any, Array[Double])] =
      groupBy(rows.all, rows.keys(_)).map { case (key, ix) =>
        key -> means(rows, ix, new Array[Int](ix.length)).vecs(0)
      }

    /** The exact decimal means of the rows `ix` per assigned cid. */
    def means(rows: FitRows, ix: Array[Int], cids: Array[Int]): Cents = {
      val cells = ix.indices.groupBy(cids(_)).toArray.sortBy(_._1)
      new Cents(cells.map(_._1), cells.map { case (_, js) =>
        val sums = new Array[Long](rows.units(ix(js.head)).length)
        for (j <- js; u = rows.units(ix(j)); d <- sums.indices)
          sums(d) = Math.addExact(sums(d), u(d))
        sums.map(s => Decimal(s, 28, 6).toDouble / js.size.toDouble)
      })
    }

    /** The cid `e` is assigned to: the best rounded score, ties to the
      * smallest cid. Rounding is monotone, so only the candidates
      * within rounding reach of the best raw score are rounded. */
    def nearest(metric: Metric, e: Array[Double], c: Cents): Int = {
      val n = c.ids.length
      if (n == 0) throw new NotMirrored
      val ee = dot(e, e)
      val raw = new Array[Double](n)
      val larger = metric == Cosine
      var j = 0
      while (j < n) {
        raw(j) = if (larger) {
          val den = math.sqrt(ee) * math.sqrt(c.sq(j))
          if (den == 0.0) throw new NotMirrored
          dot(e, c.vecs(j)) / den
        } else (ee - 2.0 * dot(e, c.vecs(j))) + c.sq(j)
        if (raw(j).isNaN) throw new NotMirrored
        j += 1
      }
      val best = if (larger) raw.max else raw.min
      // past 1e6 two 6-decimal values can share a double: round all
      val roundAll = !(math.abs(best) < 1e6)
      val slack = 2e-6 + 8 * Math.ulp(math.abs(best) + 1.0)
      var bj = -1
      var br = 0.0
      j = 0
      while (j < n) {
        if (roundAll || math.abs(raw(j) - best) <= slack) {
          val r = round6(raw(j))
          if (bj < 0 || (if (larger) r > br else r < br)) { bj = j; br = r }
        }
        j += 1
      }
      c.ids(bj)
    }
  }

  /** Centroid-count gate for the plan-LITERAL projection assignment:
    * up to this many centroids the codebook collects driver-side and
    * embeds as plan-literal lookup arrays (two `typedLit`s — one
    * Literal node each, whole-stage codegen, no join node at all);
    * beyond it the literal itself becomes task-binary weight (k·dim
    * doubles serialized into every task) and the assignment switches
    * to the broadcast one-row LUT form — still a per-row projection
    * over the same candidate array (no N·k row expansion, no N-group
    * argmin/argmax aggregate), but the arrays arrive via a broadcast
    * single-row cross join instead of the plan. Every catalog k
    * (8–80) and the PQ fits (m·kSub ≤ 512) sit far under the gate;
    * the k ∝ N paths (auto-k semdedup, the ingest gate's coarse
    * quantizer) cross it at large corpora and take the broadcast-row
    * form. */
  private val AssignLutMaxCentroids = 1024

  /** Nearest-centroid assignment by rounded cosine, ties to the
    * smallest cid ([[Metric.assign]]). */
  def assignClusters(base: DataFrame, centroids: DataFrame): DataFrame =
    Cosine.assign(base, centroids)

  /** Nearest-centroid assignment by rounded squared L2, ties to the
    * smallest cid ([[Metric.assign]]). */
  def assignClustersL2(base: DataFrame, centroids: DataFrame): DataFrame =
    L2.assign(base, centroids)

  // the two physical forms of each metric, as AssignFormSpec pins them
  private[graft] def assignClustersLut(base: DataFrame,
      sorted: Seq[(Int, Seq[Double])]): DataFrame = Cosine.lut(base, sorted)
  private[graft] def assignClustersBcast(base: DataFrame,
      centroids: DataFrame): DataFrame = Cosine.bcast(base, centroids)
  private[graft] def assignClustersL2Lut(base: DataFrame,
      sorted: Seq[(Int, Seq[Double])]): DataFrame = L2.lut(base, sorted)
  private[graft] def assignClustersL2Bcast(base: DataFrame,
      centroids: DataFrame): DataFrame = L2.bcast(base, centroids)

  /** Rounded squared-L2 distance between two double arrays, in the
    * algebraic form `⟨a,a⟩ − 2⟨a,b⟩ + ⟨b,b⟩` — three [[cosine]]-style
    * codegen dot products and one fixed combination, so Spark and the
    * DuckDB oracle evaluate the IDENTICAL float expression tree
    * (an element-wise `Σ(aᵢ−bᵢ)²` would accumulate differently and
    * break hash parity). No division anywhere: L2 assignment is
    * well-defined even for zero-norm subvectors, which is why the PQ
    * fit uses it rather than cosine. */
  private def l2sq(a: Column, b: Column): Column =
    round(dot(a, a) - lit(2) * dot(a, b) + dot(b, b), 6)

  /** [[kmeansCentroids]] under squared-L2 assignment (the textbook
    * k-means objective and the metric PQ codebooks are trained with):
    * the same Lloyd loop ([[kmeansFit]]): smallest-vec_id seeding,
    * order-independent decimal-sum updates, the same placement — so the
    * fit is bit-reproducible across runs, partitionings, AND engines
    * and the DuckDB oracle can unroll it. */
  def kmeansCentroidsL2(base: DataFrame, k: Int, iters: Int): DataFrame =
    kmeansFit(base, k, iters, L2, FitDim)

  /** Greedy k-center (farthest-point traversal, Gonzalez 1985)
    * diverse-subset selection — the curation op that picks a maximally
    * spread sample of an embedding corpus (coreset seeding, eval-set
    * selection, k-means++-style init). Seeded by the smallest
    * portable-hash vec_id (the [[sampleQueryIds]] MINSTD order); each
    * round adds the point FARTHEST from the selected set under the
    * rounded squared-L2 of [[assignClustersL2]] (ties by vec_id), and
    * the output reports each center's selection radius — the greedy
    * 2-approximation of the optimal k-center cost — plus how many
    * corpus points it covers.
    *
    * Scale shape: k passes over the corpus. Each pass is a narrow
    * projection (min distance to ≤k PLAN-LITERAL centers — no join, no
    * shuffle) followed by `orderBy(...).limit(1)`, which compiles to a
    * per-partition top-1 (TakeOrderedAndProject): one row per
    * partition moves. The driver holds exactly k centers (k·dim
    * doubles). The final coverage pass is the same narrow projection
    * plus a map-side-combined count. Total O(kN) — the cost floor for
    * the greedy guarantee; FAISS seeds coarse quantizers the same way.
    * NULL, NULL-element and zero-norm embeddings drop ([[vectorRows]]):
    * the corpus is the cosine corpus the rest of the family reads.
    */
  def kcenterSelect(embeddings: DataFrame, k: Int): DataFrame = {
    require(k >= 1, "k-center needs at least one center")
    val spark = embeddings.sparkSession
    import spark.implicits._
    val base = vectorRows(embeddings, Seq(col("vec_id")), None,
      "kcenterSelect")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // k passes reuse `base`; a corpus smaller than k would exhaust the
    // isin-filtered argmax mid-loop (empty collect) — fail fast with
    // the actual counts instead of an ArrayIndexOutOfBoundsException.
    val n = base.count()
    require(n >= k,
      s"k-center needs at least k=$k corpus rows, found $n")
    // distance of the corpus row's emb to one plan-literal center —
    // the exact [[l2sq]] expression shape, so the oracle can replay it
    def dLit(c: Seq[Double]): Column = {
      val ca = array(c.map(lit): _*)
      round(dot(col("emb"), col("emb")) - lit(2) * dot(col("emb"), ca)
        + dot(ca, ca), 6)
    }
    val seed = base.select(col("vec_id"), col("emb"),
        pmod(pmod(col("vec_id"), lit(2147483647L)) * lit(48271L),
          lit(2147483647L)).as("_h"))
      .orderBy(col("_h"), col("vec_id")).limit(1)
      .select(col("vec_id"), col("emb")).collect()(0)
    var centers = Vector(
      (seed.getLong(0), seed.getSeq[Double](1).toVector, 0.0))
    for (_ <- 2 to k) {
      val sel = centers.map(_._1)
      val minD = centers.map(c => dLit(c._2)).reduce(least(_, _))
      val nxt = base.filter(!col("vec_id").isin(sel: _*))
        .select(col("vec_id"), col("emb"), minD.as("d"))
        .orderBy(desc("d"), asc("vec_id")).limit(1).collect()(0)
      centers = centers :+ ((nxt.getLong(0),
        nxt.getSeq[Double](1).toVector, nxt.getDouble(2)))
    }
    val centersDf = centers.zipWithIndex.map { case ((id, emb, r), i) =>
      (i + 1, id, emb, r)
    }.toDF("sel_order", "vec_id", "center", "radius")
    // coverage: nearest center by (rounded d, sel_order) struct-min —
    // identical tie semantics to the oracle's row_number replay
    val counts = base
      .crossJoin(broadcast(centersDf
        .select(col("sel_order"), col("center"))))
      .withColumn("d", round(
        dot(col("emb"), col("emb"))
          - lit(2) * dot(col("emb"), col("center"))
          + dot(col("center"), col("center")), 6))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("d"), col("sel_order"))).as("_b"))
      .groupBy(col("_b.sel_order").as("sel_order"))
      .agg(count(lit(1)).as("n_assigned"))
    // k rows total: materialize once and release the cached base
    // (same persist/localCheckpoint/unpersist hygiene as
    // [[embedDupPairs]]) — the returned frame no longer references
    // `base`, so repeated calls don't accumulate cached blocks.
    val result = centersDf.join(counts, Seq("sel_order"), "left")
      .select(col("sel_order"), col("vec_id"), col("radius"),
        coalesce(col("n_assigned"), lit(0L)).as("n_assigned"))
      .orderBy("sel_order")
    val out = result.localCheckpoint()
    base.unpersist()
    out
  }

  /** Fitted PQ codebooks, collected once (m·kSub rows, the fit
    * contract; job-free from a driver fit or the stored meta): `frame`
    * as fitted, and per subspace its (cid, centroid) rows in cid
    * order. */
  private final class PqBook(pq: IvfCodes.Pq, val frame: DataFrame) {
    private val bySub: Seq[Seq[(Int, Seq[Double])]] = {
      val rows = frame.select(col("sub"), col("cid"), col("centroid"))
        .collect().map(r => (r.getInt(0), r.getInt(1),
          r.getSeq[Double](2).toSeq))
      (0 until pq.m).map(s => rows.filter(_._1 == s)
        .map(r => (r._2, r._3)).sortBy(_._1).toSeq)
    }

    /** The m codes of the vector `emb`: per subspace its nearest cid
      * under rounded [[L2]], ties to the smaller cid. */
    def encode(emb: Column): Column = array((0 until pq.m).map { s =>
      L2.nearest(typedLit(bySub(s).map(_._2)), typedLit(bySub(s).map(_._1)),
        slice(emb, s * pq.subDim + 1, pq.subDim))
    }: _*)

    /** The ADC table of the query vector `q`: per subspace its raw
      * partial dot ⟨q_s, c⟩ at every cid slot (a cid the fit dropped
      * has an empty centroid: a NULL entry no code points at). Raw, not
      * rounded: the decimal cast in the ADC sum ([[codeSim]]) is the
      * one quantization point — a per-term round would add m half-way
      * decisions per pair, the one operation Spark (exact-expansion
      * HALF_UP) and DuckDB (scaled multiply) can round apart. */
    def lut(q: Column): Column = {
      val slots = bySub.map { cs =>
        val byCid = cs.toMap
        (0 until pq.kSub).map(byCid.getOrElse(_, Seq.empty[Double]))
      }
      transform(typedLit(slots), (cs, s) => transform(cs, c =>
        dot(slice(q, s * pq.subDim + 1, lit(pq.subDim)), c)))
    }
  }

  /** The PQ code level of `spec` over its laid-out corpus `base`: the
    * label centroids, collected (the probe and the residual read them
    * as plan literals — a broadcast even of a LocalRelation costs a
    * job); the m codebooks fitted on the `fitSampleMod` sample of the
    * rows, as residuals `v − c(v)` for a residual spec; and every row
    * keyed by its cell with its codes. Within the driver gate the one
    * collect of `base` serves the label means, the residuals and all m
    * subspace fits ([[DriverLloyd]]); otherwise the label means
    * aggregate and the codebooks fit in one batched distributed Lloyd
    * loop ([[pqFitCodebooks]]). */
  private def pqCells(spec: IvfSpec, pq: IvfCodes.Pq, base: DataFrame)
      : Cells = {
    val labels = PartialFunction.condOpt(spec.coarse) {
      case c: Coarse.Labels => c
    }
    val rows = collectFit(base, pq.dim, labels.map(_ => "label"))
    val cent = labels.map(_ => rows.flatMap(r =>
        DriverLloyd.mirrored(labelCentroidsLocal(base, r)))
      .getOrElse {
        val c = labelCentroids(base)
        localFrame(base.sparkSession, c.schema, c.collect().toSeq)
      })
    // residuals: raw doubles, a−b is IEEE-exact so Spark and DuckDB
    // agree
    val src = cent.filter(_ => pq.residual).fold(base) { c =>
      val byLabel = c.collect()
      val centOf = element_at(map_from_arrays(
          array(byLabel.map(r => lit(r.get(0))).toSeq: _*),
          typedLit(byLabel.map(_.getSeq[Double](1).toSeq).toSeq)),
        col("label"))
      base.select(col("vec_id"), col("label"),
        zip_with(col("emb"), centOf, (a, b) => a - b).as("emb"))
    }
    // the driver fit's corpus: the collected rows — as residuals to
    // their label means, the rows `cent` holds — on the fit sample
    val fitRows = rows.flatMap(r => DriverLloyd.mirrored {
      val res = if (!pq.residual) r else {
        val means = DriverLloyd.keyMeans(r).toMap
        r.withVecs(i => r.vecs(i).zip(means(r.keys(i))).map {
          case (a, b) => a - b
        })
      }
      res.select(res.all.filter(i => res.ids(i) % pq.fitSampleMod == 0))
    })
    val book = new PqBook(pq,
      pqFitCodebooks(pq, fitSample(src, pq.fitSampleMod), fitRows))
    Cells(src.select(src.columns.toSeq.filter(_ != "emb").map(col) :+
        book.encode(col("emb")).as("codes"): _*),
      cent, None, labels.fold(1)(labelNprobe(_, spec.filter, base)),
      Some(book))
  }

  /** All m PQ codebooks (sub, cid, centroid), fitted on `base`. Seeds
    * are the kSub smallest vec_ids — the SAME rows for every subspace —
    * and each round is an L2 assignment plus the decimal-mean update
    * keyed (sub, cid), order-independent and unrounded per
    * [[kmeansCentroids]]' portability note. With the collected fit
    * corpus `rows` the m subspace fits run on the driver; otherwise as
    * one distributed [[subCellFit]] keyed by subspace over the
    * subspace-exploded corpus (vec_id, sub, emb) — one loop for all m
    * codebooks, whatever m. */
  private def pqFitCodebooks(pq: IvfCodes.Pq, base: DataFrame,
      rows: Option[FitRows]): DataFrame = {
    import pq._
    rows.filter(_.vecs.forall(_.length >= m * subDim))
      .flatMap(rows => DriverLloyd.mirrored((0 until m).map { si =>
        val sub = rows.slice(si * subDim, subDim)
        Seq[Any](si) -> DriverLloyd.fit(sub, sub.all, kSub, iters, L2)
      }))
      .fold(subCellFit(base.select(col("vec_id"), posexplode(array(
          (0 until m).map(s => slice(col("emb"), s * subDim + 1, subDim)): _*))
          .as(Seq("sub", "emb"))), "sub", kSub, iters, L2)
        .withColumnRenamed("scid", "cid"))(
        centroidFrame(base.sparkSession, Seq(StructField("sub", IntegerType)),
          _, "cid"))
  }

  /** `base` with its `emb` in the subspace layout of `pq`: as read,
    * variance-balanced ([[varianceOrder]]), or rotated by the
    * [[graft.functions.MatVec]] kernel. */
  private def laidOut(pq: IvfCodes.Pq, base: DataFrame): DataFrame =
    pq.layout match {
      case PqLayout.Contiguous => base
      case PqLayout.VarianceBalanced =>
        base.withColumn("emb", varianceOrder(base, pq))
      case PqLayout.Rotation(rot) => base.withColumn("emb",
        graft.functions.MatVec.mat_vec_lit(col("emb"), rot))
    }

  /** The variance-balancing permutation of `base`'s `emb` as a
    * plan-literal projection. Per-dim variance via exact decimal sums:
    * both engines compute (s2 − s1²/n)/n on identical doubles, rounded
    * before ranking so a 1-ulp divergence can never flip the
    * permutation; rank r deals to subspace r % m, slot r / m. The
    * permutation derives from ONE narrow corpus pass (dim driver
    * rows, the MLlib local-finish pattern). */
  private def varianceOrder(base: DataFrame, pq: IvfCodes.Pq): Column = {
    import pq._
    val varRows = base
      .select(posexplode(col("emb")).as(Seq("dim", "v")))
      .groupBy(col("dim"))
      .agg(graft.queries.QueryUtil.sumDec(col("v")).as("s1"),
        graft.queries.QueryUtil.sumDec(col("v") * col("v")).as("s2"),
        count(lit(1)).as("n"))
      .select(col("dim"), round(
        (col("s2") - col("s1") * col("s1") / col("n")) / col("n"), 6)
        .as("variance"))
      .collect()
    val ranked = varRows.map(r => (r.getInt(0), r.getDouble(1)))
      .sortBy { case (d, v) => (-v, d) }
    // perm(newPos) = source dim
    val perm = new Array[Int](dim)
    ranked.zipWithIndex.foreach { case ((d, _), r) =>
      perm((r % m) * subDim + (r / m)) = d
    }
    array(perm.toIndexedSeq.map(d => element_at(col("emb"), d + 1)): _*)
  }

  /** Materialize the STORED IVF-PQ index of `spec` — what a 100 TB
    * deployment keeps between corpus snapshots (the ANN sibling of
    * [[graft.ext.Retrieval.buildPhraseIndex]]). Layout v3:
    *
    *  - `$dir/codes` — (vec_id, codes) PARTITIONED BY label, one m-code
    *    array per vector, so a probe's label set is a planning-time
    *    partition filter;
    *  - `$dir/meta` — the two vocab-sized fit tables in ONE
    *    kind-discriminated file: `coarse` rows carry the per-label
    *    centroids (O(labels)), `codebooks` rows the m·kSub fitted
    *    sub-centroids. One commit cycle, one read per serve;
    *  - `$dir/VERSION` — the layout version, written last.
    *
    * Fit and encode are [[ivfSearch]]'s ([[pqCells]]); parquet
    * round-trips doubles bit-exactly, so serving from the layout can
    * never change results — SimilaritySpec pins probe ≡ ivfSearch and
    * the partition pruning. Overwrites `dir`, including the
    * `coarse`/`codebooks` dirs a v1 layout left there. */
  def buildPqIndex(spec: IvfSpec, embeddings: DataFrame, dir: String)
      : Unit = {
    val (_, pq) = storable(spec)
    val base = ivfBase(spec, embeddings)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cells = pqCells(spec, pq, base)
      val fs = pqIndexFs(base.sparkSession, dir)
      (PqIndexVersionFile +: PqIndexV1Dirs).foreach(d =>
        fs.delete(new org.apache.hadoop.fs.Path(s"$dir/$d"), true))
      // label is normalized to LONG at write time: the partition
      // directory re-infers its own numeric type, so one explicit width
      // keeps the probe's joins exact
      cells.centroids.get
        .select(lit("coarse").as("kind"),
          col("label").cast("long").as("label"),
          lit(null).cast("int").as("sub"), lit(null).cast("int").as("cid"),
          col("centroid"))
        .unionByName(cells.book.get.frame.select(lit("codebooks").as("kind"),
          lit(null).cast("long").as("label"), col("sub"), col("cid"),
          col("centroid")))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/meta")
      writePqCodes(cells.members, "overwrite", dir)
      val out = fs.create(
        new org.apache.hadoop.fs.Path(s"$dir/$PqIndexVersionFile"))
      try out.writeBytes(s"$PqIndexVersion\n") finally out.close()
    } finally base.unpersist()
  }

  /** The stored layout's version and its marker file. v1 kept the fit
    * tables in separate dirs ([[PqIndexV1Dirs]]), v2 one
    * (vec_id, sub, cid) row per code and no marker. */
  private val PqIndexVersion = 3
  private val PqIndexVersionFile = "VERSION"
  private val PqIndexV1Dirs = Seq("coarse", "codebooks")

  private def pqIndexFs(spark: org.apache.spark.sql.SparkSession,
      dir: String) = new org.apache.hadoop.fs.Path(dir)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The stored layout holds plain codes of the raw coordinates under
    * label cells. */
  private def storable(spec: IvfSpec): (Coarse.Labels, IvfCodes.Pq) =
    (spec.coarse, spec.codes) match {
      case (c: Coarse.Labels, p: IvfCodes.Pq)
          if !p.residual && p.layout == PqLayout.Contiguous => (c, p)
      case _ => throw new IllegalArgumentException(
        "the stored PQ index holds contiguous non-residual IVF-PQ codes")
    }

  /** One writer task per label partition dir. */
  private def writePqCodes(index: DataFrame, mode: String, dir: String)
      : Unit =
    index.repartition(col("label"))
      .write.mode(mode).partitionBy("label").parquet(s"$dir/codes")

  /** ONE read of a [[buildPqIndex]] layout's `meta` artifact,
    * collected driver-side (bounded: O(labels) + m·kSub rows by the
    * layout contract) and split back into its two tables: the coarse
    * (label, centroid) LocalRelation and the codebooks. Fails loudly,
    * naming the layout, on a v1 or v2 dir or another version (rebuild
    * required), on a meta without codebooks, or on a codebook count
    * that is not the spec's m. */
  private def readPqIndexMeta(spark: org.apache.spark.sql.SparkSession,
      dir: String, spec: IvfSpec): (DataFrame, PqBook) = {
    val (_, pq) = storable(spec)
    val fs = pqIndexFs(spark, dir)
    def path(d: String) = new org.apache.hadoop.fs.Path(s"$dir/$d")
    def rebuild(layout: String) = new IllegalStateException(
      s"$dir holds $layout — rebuild required: run buildPqIndex on it")
    if (!fs.exists(path("meta")) &&
        PqIndexV1Dirs.exists(d => fs.exists(path(d))))
      throw rebuild("a v1 PQ index layout (coarse/codebooks dirs, no meta)")
    if (!fs.exists(path(PqIndexVersionFile)))
      throw rebuild("a v2 PQ index layout (one (vec_id, sub, cid) row " +
        s"per code, no $PqIndexVersionFile marker)")
    val in = fs.open(path(PqIndexVersionFile))
    val version = try new String(in.readAllBytes(), "UTF-8").trim
      finally in.close()
    if (version != PqIndexVersion.toString)
      throw rebuild(s"PQ index layout v$version, not v$PqIndexVersion")
    val meta = spark.read.parquet(s"$dir/meta")
      .select("kind", "label", "sub", "cid", "centroid")
    val (coarse, book) =
      meta.collect().toSeq.partition(_.getString(0) == "coarse")
    require(book.nonEmpty, s"$dir/meta holds no codebooks rows — " +
      "corrupt PQ index meta, rebuild the index")
    val m = book.map(_.getInt(2)).max + 1
    require(m == pq.m, s"$dir holds m=$m codebooks, spec has m=${pq.m}")
    def local(cols: String*)(rows: Seq[Row]) = localFrame(spark,
      StructType(cols.map(meta.schema(_))), rows.map(r =>
        Row.fromSeq(cols.map(c => r.get(meta.schema.fieldIndex(c))))))
    (local("label", "centroid")(coarse),
      new PqBook(pq, local("sub", "cid", "centroid")(book)))
  }

  /** Append a batch to a [[buildPqIndex]] layout WITHOUT refit — the
    * FAISS `add` path on the stored index: the batch is encoded with
    * the STORED codebooks and its codes land as an APPEND into the
    * label-partitioned codes — existing code files are never
    * rewritten, the coarse centroids and codebooks never move, and a
    * probe sees old and new vectors through the identical ADC
    * machinery. Quantizer drift across many appends is the trigger
    * for the next [[buildPqIndex]] refit. AppendSpec pins: manifest
    * codes bit-identical pre/post append, and split-appends compose
    * to the one-shot append. */
  def appendToPqIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, spec: IvfSpec, batch: DataFrame): Unit = {
    // one meta read serves the known-label check AND the frozen
    // codebooks
    val (coarse, book) = readPqIndexMeta(spark, dir, spec)
    val base = ivfBase(spec, batch)
    // a label the stored coarse centroids don't know would land in a
    // partition NO probe ever selects — silently unreachable rows.
    // New labels are the refit trigger, not an append; fail loudly.
    val known = coarse.collect().map(_.getLong(0)).toSet
    val novel = base.select(col("label").cast("long")).distinct()
      .collect().map(_.getLong(0)).filterNot(known)
    require(novel.isEmpty,
      s"batch carries labels absent from the stored coarse index " +
        s"(${novel.mkString(",")}) — appending them would create " +
        "unreachable partitions; rebuild the index instead")
    writePqCodes(base.select(col("vec_id"), col("label"),
      book.encode(col("emb")).as("codes")), "append", dir)
  }

  /** Probe served from a [[buildPqIndex]] layout: the query vectors
    * score the stored coarse centroids, the |Q|·nprobe probed set
    * collects driver-side (bounded by the fixed-|Q| contract — the
    * phraseIndexProbe rule), its label set becomes a PLANNING-time
    * partition filter on the codes read, and fine ranking is
    * [[ivfSearch]]'s over the pruned partitions — no raw corpus
    * vectors, no fit, no corpus-proportional probe state.
    * `embeddings` supplies the |Q| query rows (and, for a widened
    * nprobe, the corpus the filter's selectivity is measured on).
    * Results are bit-identical to [[ivfSearch]] at the same spec. */
  def pqIndexProbe(spark: org.apache.spark.sql.SparkSession,
      dir: String, spec: IvfSpec, embeddings: DataFrame,
      queryIds: DataFrame, k: Int): DataFrame = {
    val (c, _) = storable(spec)
    val (cent, book) = readPqIndexMeta(spark, dir, spec)
    val base = ivfBase(spec, embeddings)
    val cells = Cells(spark.read.parquet(s"$dir/codes"), Some(cent), None,
      labelNprobe(c, spec.filter, base), Some(book))
    val q = queryCodes(spec, cells,
      base.join(broadcast(queryIds), Seq("vec_id")),
      Seq(col("vec_id").as("query_id")))
    val (probed, keys) = probe(spec, cells, q, "query_id")
    val local = localFrame(spark, probed.schema, probed.collect().toSeq)
    // filter BEFORE the cast so the isin stays a partition filter;
    // the directory-inferred partition type then normalizes to long
    val labels = local.select("label").collect().map(_.get(0)).distinct
    rank(spec, cells.members.filter(col("label").isin(labels.toSeq: _*))
        .withColumn("label", col("label").cast("long")),
      local, keys, "query_id", "neighbor_id", k, bounded = true)
  }

  /** The per-label exact decimal-mean centroid frame (label, centroid)
    * — ONE definition for every label-celled coarse level: IVF
    * search, the PQ coarse level and the stored PQ index
    * ([[Coarse.centroidsSql]] mirrors it). */
  private def labelCentroids(base: DataFrame): DataFrame =
    decimalMeans(base, Seq("label"), "emb")

  /** [[labelCentroids]] of `base` from its collected rows (keyed by
    * label), as a LocalRelation. */
  private def labelCentroidsLocal(base: DataFrame, rows: FitRows)
      : DataFrame =
    localFrame(base.sparkSession, StructType(Seq(base.schema("label"),
        CentroidField)),
      DriverLloyd.keyMeans(rows).map { case (k, v) => Row(k, v.toSeq) })

  /** Keep each query's `nprobe` best coarse cells — the one probe
    * rule of every coarse level ([[Coarse.probedSql]] mirrors it):
    * (query, cell) `pairs` ranked per `part` by the rounded
    * similarity `sim`, ties to the smaller `cell`; `keep` lists the
    * columns carried on. The two-level grid applies it once per
    * level. */
  private def probeCells(pairs: DataFrame, keep: Seq[Column], sim: Column,
      part: Seq[String], cell: String, nprobe: Int): DataFrame = {
    val w = Window.partitionBy(part.map(col): _*)
      .orderBy(desc("c_sim"), asc(cell))
    pairs.select(keep :+ sim.as("c_sim"): _*)
      .withColumn("prn", row_number().over(w))
      .filter(col("prn") <= nprobe)
      .drop("c_sim", "prn")
  }

  /** The probe count of label cells: `c.nprobe`, or widened by the
    * filter's selectivity over `corpus` ([[autoNprobe]]). */
  private def labelNprobe(c: Coarse.Labels, filter: Option[AnnFilter],
      corpus: => DataFrame): Int =
    if (c.widenForFilter) autoNprobe(corpus, c.nprobe, filter.get.column)
    else c.nprobe

  /** `df`'s vector column `vec` under `codes`, next to `keep`: exact
    * as `${p}emb`, or int8 as `${p}qv`/`${p}qn` — the 72-byte codes
    * ([[graft.functions.QuantizeOps.quantize_i8]]: an 8-byte scale
    * header and one signed byte per dim), with the norm computed once
    * per vector. A NULL-element or zero-norm code drops (the oracle's
    * `qn > 0`; the corpus and queries are already clean, see
    * [[ivfBase]]). Corpus, centroids and queries all pass through
    * here, so every level scores the same codes. PQ keeps the raw
    * vector: its corpus codes and query tables come from the fitted
    * [[PqBook]]. */
  private def encoded(codes: IvfCodes, df: DataFrame, keep: Seq[Column],
      vec: String, p: String): DataFrame = codes match {
    case IvfCodes.Exact | _: IvfCodes.Pq =>
      df.select(keep :+ col(vec).as(s"${p}emb"): _*)
    case _: IvfCodes.Int8 =>
      import graft.functions.QuantizeOps._
      df.select(keep :+ quantize_i8(col(vec)).as(s"${p}qv"): _*)
        .filter(col(s"${p}qv").isNotNull)
        .withColumn(s"${p}qn",
          sqrt(dot_i8(col(s"${p}qv"), col(s"${p}qv")).cast("double")))
        .filter(col(s"${p}qn") > 0)
  }

  /** The rounded score between the `a`- and `b`-prefixed codes: the
    * cosine of exact doubles, or the int8 integer dot over the code
    * norms (per-vector scales cancel out of cosine); for PQ the ADC
    * inner product of the `a` query table at the `b` codes — the m
    * entries cast to DECIMAL(18,6) and summed exactly, the per-pair
    * form of [[graft.queries.QueryUtil.sumDec]] (order-independent,
    * so bit-identical to the oracle), plus a residual spec's coarse
    * term `qc_dot`. */
  private def codeSim(codes: IvfCodes, a: String, b: String): Column =
    codes match {
      case IvfCodes.Exact =>
        round(cosine(col(s"${a}emb"), col(s"${b}emb")), 6)
      case _: IvfCodes.Int8 =>
        import graft.functions.QuantizeOps._
        round(dot_i8(col(s"${a}qv"), col(s"${b}qv")).cast("double") /
          (col(s"${a}qn") * col(s"${b}qn")), 6)
      case pq: IvfCodes.Pq =>
        val adc = (1 to pq.m).map(s => element_at(element_at(
            col(s"${a}lut"), s), element_at(col(s"${b}codes"), s) + 1)
          .cast(DecimalType(18, 6))).reduce(_ + _).cast("double")
        round(if (pq.residual) col("qc_dot") + adc else adc, 6)
    }

  /** The corpus read of every embedding operator (IVF, PQ, SemDeDup,
    * the embedding near-dups, k-center, MIPS): `keep` and `emb` (the
    * embedding as doubles) of the rows whose vector has a cosine
    * direction, mirrored by the oracles' corpus filter
    * ([[graft.queries.QueryUtil.vectorRowsSql]]). NULL, NULL-element
    * and zero-norm embeddings drop: a NULL row would enter fine ranking
    * with a NULL cos_sim and surface whenever a probed cell holds fewer
    * than k candidates, and a zero vector's norm divides by zero (an
    * error under ANSI, NaN in DuckDB). A dim mismatch, which would NULL
    * every score, fails fast with `dimError` (assert_true is kept alive
    * by the filter). */
  private[graft] def vectorRows(embeddings: DataFrame, keep: Seq[Column],
      dim: Option[Int], dimError: String): DataFrame = {
    // the IS NOT NULL conjunct keeps a NULL row away from the dim
    // check (a NULL norm test alone would not short-circuit it)
    val base = embeddings.select(keep :+
        toDouble(col("embedding")).as("emb"): _*)
      .filter(col("emb").isNotNull && dot(col("emb"), col("emb")) > 0)
    dim.fold(base)(d =>
      base.filter(coalesce(assert_true(size(col("emb")) === d,
        lit(s"$dimError: embedding dim != $d")), lit(true))))
  }

  /** The corpus of `spec`: [[vectorRows]], in the PQ layout for PQ
    * codes. LSH cells check the dim: a mismatch would collapse the
    * corpus into one bucket (a silent flat scan). */
  private def ivfBase(spec: IvfSpec, embeddings: DataFrame): DataFrame = {
    val rows = vectorRows(embeddings, Seq(col("vec_id")) ++
      (if (spec.keepsLabel) Seq(col("label")) else Nil),
      PartialFunction.condOpt(spec.coarse) { case c: Coarse.Lsh => c.dim },
      "Coarse.Lsh")
    spec.pq.fold(rows)(laidOut(_, rows))
  }

  /** A k-means coarse index — the ingest gate's state between refits:
    * the fitted centroids (cid, centroid) and the manifest keyed by
    * cell (vec_id, emb, cid). Centroids are O(k) rows; members are the
    * manifest re-keyed by cell. `kClusters` is the k the rule chose
    * (a cell no vector joins drops out of `centroids`). */
  final case class IvfIndex(centroids: DataFrame, members: DataFrame,
      kClusters: Int)

  /** Fit `c` on `base` (vec_id, emb) and assign it. k = ⌈N/target⌉
    * keeps cell size — and per-batch probe cost — flat as the corpus
    * grows; ⌈√N⌉ bounds the build at O(N^1.5) (per-query probe cost
    * `k + nprobe·N/k` is minimized near k = √(nprobe·N)). With
    * `fitSampleMod` > 1 seeds and Lloyd passes run on the
    * `vec_id % mod = 0` sample (FAISS trains quantizers on a sample)
    * while every vector is still assigned; the build drops to
    * O(N·k/mod) plus one full assignment pass. An unsampled driver fit
    * collects the whole base, which counts it too. */
  private def kmeansIndex(c: Coarse.Kmeans, base: DataFrame): IvfIndex = {
    val fitBase = fitSample(base, c.fitSampleMod)
    val rows = collectFit(fitBase, FitDim)
    val kClusters = c.k.of(rows.filter(_ => c.fitSampleMod == 1L)
      .fold(base.count())(_.size.toLong))
    val centroids = kmeansOn(fitBase, rows, kClusters, c.iters, Cosine)
    IvfIndex(centroids, assignClusters(base, centroids), kClusters)
  }

  /** A built coarse level: the corpus (under the spec's codes) keyed by
    * cell, and for the centroid levels the cell centroids keyed by the
    * spec's cell column plus the two-level grid's sub-cells; PQ codes
    * carry their fitted codebooks. */
  private final case class Cells(members: DataFrame,
      centroids: Option[DataFrame] = None, sub: Option[DataFrame] = None,
      nprobe: Int = 1, book: Option[PqBook] = None)

  private def buildCells(spec: IvfSpec, base: DataFrame): Cells =
    spec.coarse match {
      case _ if spec.pq.isDefined => pqCells(spec, spec.pq.get, base)
      case Coarse.Exhaustive =>
        Cells(encoded(spec.codes, base,
          base.columns.toSeq.filter(_ != "emb").map(col), "emb", ""))
      case c: Coarse.Lsh =>
        Cells(base.withColumn("bucket", graft.functions.HyperplaneBuckets(
          col("emb"), Seq(c.hyperplanes)).getItem(0)))
      case c: Coarse.Labels =>
        Cells(encoded(spec.codes, base, Seq(col("vec_id"), col("label")),
            "emb", ""), Some(labelCentroids(base)), None,
          labelNprobe(c, spec.filter, base))
      case c: Coarse.Kmeans =>
        val idx = kmeansIndex(c, base)
        Cells(idx.members, Some(idx.centroids), None, c.nprobe)
      case c: Coarse.TwoLevel =>
        val (cents1, cents2) = twoLevelFit(base, c)
        Cells(assignSubClusters(base, cents2, "label"), Some(cents1),
          Some(cents2), c.nprobe)
    }

  /** The two-level grid's label centroids and per-label sub-cells: both
    * from one collect on the driver within the gate, else
    * [[labelCentroids]] and [[subCellFit]]. */
  private def twoLevelFit(base: DataFrame, c: Coarse.TwoLevel)
      : (DataFrame, DataFrame) =
    collectFit(base, FitDim, Some("label"))
      .flatMap(rows => DriverLloyd.mirrored((labelCentroidsLocal(base, rows),
        centroidFrame(base.sparkSession, Seq(base.schema("label")),
          DriverLloyd.perKey(rows, DriverLloyd.groupBy(rows.all, rows.keys(_)),
            c.k2, c.iters).map { case (key, cents) => Seq(key) -> cents },
          "scid"))))
      .getOrElse((labelCentroids(base), subCellFit(base, "label", c.k2,
        c.iters)))

  /** Each query's nearest centroid cells (`qid`, q_-prefixed codes,
    * cell keys) and the keys they join the members on: the
    * [[probeCells]] rule, once per level. */
  private def nearestCells(spec: IvfSpec, cells: Cells,
      centroids: DataFrame, q: DataFrame, qid: String)
      : (DataFrame, Seq[String]) = {
    val cell = spec.coarse match {
      case _: Coarse.Kmeans => "cid"
      case _ => "label"
    }
    val qCols = q.columns.toSeq.map(col)
    val sim = codeSim(spec.probeCodes, "q_", "c_")
    // a PQ level's centroids are local rows: they enter as one plan
    // literal, where a broadcast even of a LocalRelation costs a job
    val pairs =
      if (cells.book.isDefined) crossLocal(q, centroids, cell)
      else q.crossJoin(broadcast(encoded(spec.codes, centroids,
        Seq(col(cell)), "centroid", "c_")))
    // a residual spec's coarse ADC term ⟨q,c⟩, free at probe time
    val qc = if (spec.pq.exists(_.residual))
      Seq(dot(col("q_emb"), col("c_emb")).as("qc_dot")) else Nil
    val probed1 = probeCells(
      if (spec.otherLabel) pairs.filter(col(cell) =!= col("q_label"))
      else pairs,
      (qCols :+ col(cell)) ++ qc, sim, Seq(qid), cell, cells.nprobe)
    (spec.coarse, cells.sub) match {
      case (c: Coarse.TwoLevel, Some(sub)) =>
        val subCodes = encoded(spec.codes, sub,
          Seq(col("label"), col("scid")), "centroid", "c_")
        (probeCells(probed1.join(broadcast(subCodes), Seq("label")),
          qCols ++ Seq(col("label"), col("scid")), sim,
          Seq(qid, "label"), "scid", c.nprobe2), Seq("label", "scid"))
      case _ => (probed1, Seq(cell))
    }
  }

  /** The [[Coarse.Lsh]] probe frame: the query frame `q` (q_emb) once
    * per probed `bucket` — its own, then with `nprobe` > 1 the buckets
    * across its lowest-|margin| planes (array_sort orders the
    * (|projection|, bit) structs by margin, then bit). Only this
    * (query × nprobe) frame replicates; the corpus keys on its one
    * precomputed bucket id. */
  private def lshProbes(c: Coarse.Lsh, q: DataFrame): DataFrame = {
    val planes = c.hyperplanes
    val own = graft.functions.HyperplaneBuckets(col("q_emb"), Seq(planes))
      .getItem(0)
    if (c.nprobe == 1) q.withColumn("bucket", own)
    else {
      val margins = planes.zipWithIndex.map { case (p, i) =>
        struct(abs(dot(col("q_emb"), typedLit(p))).as("m"),
          lit(1 << i).as("bit"))
      }
      val flips = slice(array_sort(array(margins: _*)), 1, c.nprobe - 1)
      val bucket = col("q_bucket")
      q.withColumn("q_bucket", own)
        .select(q.columns.toSeq.map(col) :+ explode(concat(array(bucket),
          transform(flips, f => bucket.bitwiseXOR(f.getField("bit")))))
          .as("bucket"): _*)
    }
  }

  /** `q` × the rows of the local (key, centroid) frame `cents`, which
    * enter as one plan literal of (key, c_emb) structs. */
  private def crossLocal(q: DataFrame, cents: DataFrame, key: String)
      : DataFrame = {
    val kt = cents.schema(key).dataType
    q.select(q.columns.toSeq.map(col) :+ inline(array(
      cents.select(col(key), col("centroid")).collect().toSeq.map(r =>
        struct(lit(r.get(0)).cast(kt).as(key),
          typedLit(r.getSeq[Double](1).toSeq).as("c_emb"))): _*)): _*)
  }

  /** Each query's probed cells and the keys they join the members on:
    * LSH buckets, the centroid cells, or for the exhaustive scan the
    * query frame itself with no key. */
  private def probe(spec: IvfSpec, cells: Cells, q: DataFrame, qid: String)
      : (DataFrame, Seq[String]) = spec.coarse match {
    case c: Coarse.Lsh => (lshProbes(c, q), Seq("bucket"))
    case _ => cells.centroids.fold((q, Seq.empty[String]))(
      nearestCells(spec, cells, _, q, qid))
  }

  /** Probe `cells` with the query frame `q` (`qid`, q_-prefixed codes,
    * optional q_label) and rank the `k` best candidates per query. */
  private def probeRank(spec: IvfSpec, cells: Cells, q: DataFrame,
      qid: String, nid: String, k: Int, bounded: Boolean): DataFrame = {
    val (probed, keys) = probe(spec, cells, q, qid)
    rank(spec, cells.members, probed, keys, qid, nid, k, bounded)
  }

  /** The `k` best `members` per query of `probed`, joined on `keys`
    * (`qid`, `nid`, [neg_label,] cos_sim | adc_dot, rank). The
    * exhaustive scan pairs every query with every candidate. A
    * `bounded` query set's probes broadcast into the fine-rank join
    * (|Q|·nprobe rows); the k-means join stays unhinted
    * ([[IvfSpec.hintsProbed]]). */
  private def rank(spec: IvfSpec, members: DataFrame, probed: DataFrame,
      keys: Seq[String], qid: String, nid: String, k: Int,
      bounded: Boolean): DataFrame = {
    val cand = spec.filter.fold(members)(f => members.filter(f.column))
    val right =
      if (spec.hintsProbed && bounded) broadcast(probed) else probed
    val notSelf = col("vec_id") =!= col(qid)
    val keep = col(qid) +: col("vec_id").as(nid) +:
      (if (spec.otherLabel) Seq(col("label").as("neg_label")) else Nil)
    rankTopK(
      (if (keys.isEmpty) cand.join(right) else cand.join(right, keys))
        .filter(if (spec.otherLabel)
          notSelf && col("label") =!= col("q_label") else notSelf)
        .select(keep :+ codeSim(spec.codes, "q_", "").as(spec.score): _*),
      k, qid, nid, spec.score)
  }

  /** Cosine top-k under `spec` for a query-id frame (single `vec_id`
    * column, e.g. [[sampleQueryIds]]; it broadcasts): the corpus is cut
    * into the spec's coarse cells, each query probes its nearest
    * cells, and only the vectors in them are scored — total work
    * O(|Q|·(cells + nprobe·|C|/cells)), linear in the corpus.
    *
    *  - exhaustive: one cell, every candidate scored — the exact
    *    baseline every other level is measured against;
    *  - LSH: hyperplane buckets with no fit step and nothing collected;
    *    trades recall for a |C|/2^planes candidate reduction, and
    *    multi-probe buys it back at ≤ nprobe× the candidates;
    *  - label cells: the `label` column is the partitioning; centroids
    *    are exact decimal means, so DuckDB reproduces the quantizer
    *    bit-for-bit;
    *  - k-means cells: the deterministic [[kmeansCentroids]] fit;
    *  - two-level: label cells split into per-label k-means sub-cells
    *    (IMI-style — assignment pays N·(k1 + k2) for k1·k2 cells,
    *    probing nprobe labels then nprobe2 sub-cells in each);
    *  - `filter` restricts CANDIDATES, never the index (a pushed
    *    predicate on the pruned read — the coarse level stays shared
    *    across predicates; widen nprobe ∝ 1/selectivity);
    *  - int8 codes score centroids and candidates on the 72-byte
    *    codes (~7× fewer bytes broadcast or shuffled; integer dots are
    *    exact, so the quantized cosine is engine-portable); `rerank`
    *    rescores that coarse top-n with the exact cosine on raw
    *    vectors reattached by id, repairing quantization at the final
    *    ranking;
    *  - PQ codes (Jégou et al. 2011, FAISS/ScaNN-class IVF-PQ on label
    *    cells): each corpus vector is its m sub-centroid ids (at
    *    kSub ≤ 256, m bytes instead of 8·dim), the query keeps its raw
    *    vector and one m×kSub table of partial dots, and a candidate's
    *    `adc_dot` is the sum of its m table entries — a per-pair
    *    projection with no join to the table and no per-pair
    *    aggregate ([[pqCells]]);
    *  - `otherLabel` mines hard negatives (contrastive training: close
    *    in embedding space, of another class): the anchor's own label
    *    cell is dropped at probe time, and the candidate stream keeps
    *    the `label <> q_label` post-filter.
    *
    * When the corpus is read by several jobs (a Lloyd fit, or the
    * label centroid pass ahead of quantization) it persists, and the
    * top-k materializes before the corpus is released — also when the
    * search fails. Every score is rounded and ties break by id, so
    * the result is hash-verified against [[IvfSpec.oracleSql]]. */
  def ivfSearch(spec: IvfSpec, embeddings: DataFrame, queryIds: DataFrame,
      k: Int): DataFrame =
    search(spec, embeddings, k, bounded = true)(
      _.join(broadcast(queryIds), Seq("vec_id")))

  /** [[ivfSearch]] for the vectors matching `isQuery` — a set that may
    * grow with the corpus ([[QuerySet.EveryNth]]), so neither the
    * queries nor their probes carry a broadcast hint: Spark's size
    * estimate picks the build side at runtime, where a forced
    * broadcast would collect a corpus-scaled frame into one JVM. */
  private[graft] def ivfSearchWhere(spec: IvfSpec, embeddings: DataFrame,
      isQuery: Column, k: Int): DataFrame =
    search(spec, embeddings, k, bounded = false)(_.filter(isQuery))

  /** The search over the queries `pick` selects from the corpus. */
  private def search(spec: IvfSpec, embeddings: DataFrame, k: Int,
      bounded: Boolean)(pick: DataFrame => DataFrame): DataFrame = {
    val coarseK = spec.codes match {
      case IvfCodes.Int8(Some(n)) => n
      case _ => k
    }
    val base = ivfBase(spec, embeddings)
    if (spec.persistsCorpus)
      base.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val top = try {
      val cells = buildCells(spec, base)
      val q = queryCodes(spec, cells, pick(base),
        col("vec_id").as("query_id") +:
          (if (spec.otherLabel) Seq(col("label").as("q_label")) else Nil))
      val ranked = probeRank(spec, cells, q,
        "query_id", "neighbor_id", coarseK, bounded)
      if (spec.persistsCorpus) ranked.localCheckpoint() else ranked
    } finally if (spec.persistsCorpus) base.unpersist()
    spec.codes match {
      case IvfCodes.Int8(Some(_)) => exactRerank(embeddings, pick, top, k)
      case _ => top
    }
  }

  /** The query frame under the spec's codes; PQ queries add their ADC
    * table `q_lut` ([[PqBook.lut]]). */
  private def queryCodes(spec: IvfSpec, cells: Cells, df: DataFrame,
      keep: Seq[Column]): DataFrame = {
    val q = encoded(spec.codes, df, keep, "emb", "q_")
    cells.book.fold(q)(b => q.withColumn("q_lut", b.lut(col("q_emb"))))
  }

  /** Rescore coarse (query_id, neighbor_id) candidates with the exact
    * double cosine: raw vectors reattach by a vec_id equi-join (ship
    * ids, not payloads), the bounded query side broadcasts. */
  private def exactRerank(embeddings: DataFrame,
      pick: DataFrame => DataFrame, coarse: DataFrame, k: Int): DataFrame = {
    val base = embeddings.select(col("vec_id"),
        toDouble(col("embedding")).as("emb"))
      .filter(col("emb").isNotNull)
    val q = pick(base)
      .select(col("vec_id").as("query_id"), col("emb").as("q_emb"))
    rankTopK(coarse.select(col("query_id"), col("neighbor_id"))
      .join(base.select(col("vec_id").as("neighbor_id"),
        col("emb").as("n_emb")), Seq("neighbor_id"))
      .join(broadcast(q), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        round(cosine(col("q_emb"), col("n_emb")), 6).as("cos_sim")), k)
  }

  /** Build the ANN ingest gate's index on the manifest — the FAISS
    * train+add path, paid once per refit cycle. The gate's coarse
    * level is k-means cells (the spec's k rule and sampled fit; see
    * [[kmeansIndex]]). */
  def ivfBuild(spec: IvfSpec, manifest: DataFrame): IvfIndex =
    spec.coarse match {
      case c: Coarse.Kmeans => kmeansIndex(c, ivfBase(spec, manifest))
      case c => throw new IllegalArgumentException(
        s"an ingest-gate index has k-means cells, not $c")
    }

  /** The ingest gate's per-batch leg — index MAINTENANCE without refit,
    * the vector-side sibling of [[Dedup.nearDupProbe]]: each
    * incoming vector scores the O(k) centroids of the frozen `index`,
    * keeps its nprobe best cells and fine-ranks ONLY against the
    * manifest vectors in them, emitting its top-`k` attach points
    * (new_id, match_id, cos_sim, rank). Appending a batch moves no
    * centroid and re-encodes nothing. Per-batch cost |batch| ×
    * (k + nprobe × cell size), flat in the corpus; |Q| scales WITH the
    * batch here (the documented ingest-gate exception to the fixed-|Q|
    * rule), which is why the fine-rank join is unhinted: AQE
    * broadcasts the probed frame while a batch fits and shuffles on
    * `cid` beyond it. */
  def ivfProbe(spec: IvfSpec, index: IvfIndex, incoming: DataFrame,
      k: Int): DataFrame = {
    val q = encoded(spec.codes, ivfBase(spec, incoming),
      Seq(col("vec_id").as("new_id")), "emb", "q_")
    probeRank(spec, Cells(index.members, Some(index.centroids), None,
      spec.coarse.nprobe), q, "new_id", "match_id", k, bounded = false)
  }

  /** Sub-cluster assignment for the two-level grid: the per-group
    * codebooks collapse to ONE LUT row per group key (scid-sorted
    * centroid + id arrays), broadcast-hash-joined on `key` — no row
    * expansion (1 LUT row per group), no N-group aggregate, no plan
    * literal — and each row takes `array_max` over its OWN group's k2
    * candidates as a projection. Per-row candidate count is k2
    * regardless of how many groups exist; the broadcast is k1 rows of
    * k2·dim doubles (the grid contract). A map-literal variant of
    * this projection measured ~10× slower end-to-end at sf0.01: the
    * k1·k2·dim literal re-enters analysis + Janino per assign, the
    * exact cold-cost pathology the
    * [[graft.functions.HyperplaneBuckets]] kernel note documents — the
    * broadcast row keeps plans small instead. `key` is `label` for the
    * ANN grid, `cid` for the hierarchical SemDeDup ([[semDedup]]), `sub` for the PQ codebooks. */
  private def assignSubClusters(base: DataFrame, cents2: DataFrame,
      key: String, metric: Metric = Cosine): DataFrame = {
    // when the sub-codebook is a LocalRelation (a driver fit's state)
    // it is grouped and sorted on the DRIVER instead of through the
    // aggregate, whose exchange is one more job per consumer; the
    // broadcast then scans a LocalRelation. Identical rows: the SQL
    // form's array_sort(collect_list(struct(scid, centroid))) is a
    // lexicographic struct sort whose FIRST field (scid) is unique
    // within a key, so sorting by scid alone realizes the same order
    // (SimilaritySpec pins the two forms).
    val lut =
      if (isLocal(cents2)) subClusterLutLocal(cents2, key)
      else cents2
        .groupBy(col(key))
        .agg(array_sort(collect_list(
          struct(col("scid"), col("centroid")))).as("_sl"))
        .select(col(key),
          transform(col("_sl"), e => e("centroid")).as("_cents"),
          transform(col("_sl"), e => e("scid")).as("_scids"))
    base.join(broadcast(lut), Seq(key))
      .select(col("vec_id"), col(key), col("emb"),
        metric.nearest(col("_cents"), col("_scids"), col("emb"), "scid")
          .as("scid"))
  }

  /** Driver-side construction of the (key, _cents, _scids) LUT frame
    * from a LOCAL sub-codebook frame — see [[assignSubClusters]]. */
  private def subClusterLutLocal(cents2: DataFrame, key: String)
      : DataFrame = {
    val schema = cents2.schema
    val iKey = schema.fieldIndex(key)
    val iScid = schema.fieldIndex("scid")
    val iCent = schema.fieldIndex("centroid")
    val rows = cents2.collect() // job-free: LocalTableScan
    val grouped = rows.groupBy(_.get(iKey)).toSeq.map { case (k, rs) =>
      val sorted = rs.sortBy(_.getInt(iScid))
      Row(k, sorted.map(_.getSeq[Double](iCent)).toSeq,
        sorted.map(_.getInt(iScid)).toSeq)
    }
    localFrame(cents2.sparkSession, StructType(Seq(schema(key),
        StructField("_cents", ArrayType(ArrayType(DoubleType))),
        StructField("_scids", ArrayType(IntegerType)))), grouped)
  }

  /** The selectivity-derived nprobe rule shared by the filtered
    * `_auto` entries: `min(n_labels, ⌈baseNprobe · N / N_match⌉)`,
    * exact integer arithmetic over one O(1)-row aggregate of the
    * (vec_id, label, …) base frame. */
  private[graft] def autoNprobe(base: DataFrame, baseNprobe: Int,
      candidateFilter: Column): Int = {
    val st = base.agg(count(lit(1)).as("n"),
      count(when(candidateFilter, lit(1))).as("m"),
      countDistinct(col("label")).as("l")).head()
    val (n, m, l) = (st.getLong(0), st.getLong(1), st.getLong(2))
    require(m > 0, "candidateFilter matches no rows — nothing to rank")
    math.min(l, (baseNprobe.toLong * n + m - 1) / m).toInt
  }

  /** Semantic deduplication under `spec` (the SemDeDup recipe, Abbas
    * et al. 2023, arXiv:2303.09540): cut the corpus into the spec's
    * deterministic k-means cells, compute exact pairwise cosine only
    * WITHIN each cell, and drop every vector that is ≥
    * `threshold`-similar to a smaller-id vector of its cell (greedy
    * keep-smallest-id — deterministic and SQL-mirrorable). Output: one
    * row per non-NULL input vector — (vec_id, cid[, scid], kept).
    *
    * Scale shape: the quadratic step is confined to cells. Pair work
    * is Σ|cell|², so at corpus scale the cell count grows with N (the
    * paper runs k≈11k on 100M embeddings, mean cluster ≈10⁴): the
    * flat grid's ⌈N/target⌉ rule keeps cell size flat — the 10× scale
    * probe measured fixed-k as ~56× slower for 10× data — but every
    * flat assignment pass then costs N·k = O(N²/target); the
    * hierarchical grid's two √-sized levels cut it to N·2k =
    * O(N·√(N/target)) (~7×10⁸ instead of 6×10¹⁰ at 2M vectors and
    * target 64), the two-level [[ivfSearch]] argument applied to dedup
    * blocking. The per-cell join is an equi-join on the cell keys,
    * never all-pairs; a skewed cell concentrates work on one key (the
    * mitigation at scale is a smaller target).
    *
    * `fitSampleMod` > 1 trains the k-means on the DETERMINISTIC
    * `vec_id % fitSampleMod == 0` sample (FAISS trains quantizers on a
    * sample) while the FULL corpus is still assigned and pair-pruned;
    * dedup SEMANTICS are unchanged — cells are only the blocking
    * structure. */
  def semDedup(spec: SemDedupSpec, embeddings: DataFrame): DataFrame =
    withSemDedupBase(spec, embeddings) { base =>
      val members = spec.grid match {
        case SemDedupGrid.Flat(rule) =>
          // a row-derived k counts the raw input
          val cent = kmeansFit(fitSample(base, spec.fitSampleMod),
            rule.of(embeddings.count()), spec.iters, Cosine, spec.dim)
          assignClusters(base, cent)
        case h: SemDedupGrid.Hier => hierFit(spec, base, h.k).members
      }
      // the prune checkpoints its output, so unpersisting base never
      // strands the returned frame's lineage
      semDedupPrune(spec, members, None)
    }

  /** The FITTED state of the semantic-dedup ingest gate — what a
    * deployment keeps between refits (the [[IvfIndex]] sibling): the
    * manifest's TWO-LEVEL grid ([[hierFit]]) — the level-1 centroids
    * of its OCCUPIED cells and the level-2 centroids — plus its
    * distinct (cell, sub-cell, value) groups with min-id
    * representatives. Within the driver gate all three are
    * LocalRelations built from one collect of the manifest, so a batch
    * reads them job-free; otherwise they are O(manifest) frames
    * materialized at fit time. Every incoming batch is judged against
    * this state without touching the manifest again. */
  final case class SemDedupState(centroids1: DataFrame,
      centroids2: DataFrame, manGroups: DataFrame)

  /** Fit the gate state of `spec` — a hierarchical grid, k derived from
    * the guarded manifest — on the manifest: [[hierFit]] plus the
    * manifest's group collapse. */
  def semDedupFit(spec: SemDedupSpec, manifest: DataFrame): SemDedupState = {
    val grid = gateGrid(spec)
    withSemDedupBase(spec, manifest) { man =>
      val fit = hierFit(spec, man, { n =>
        // an EMPTY manifest would fit zero centroids and the gate's
        // occupied-cell restriction would then drop every incoming
        // vector — violating its 'one row per incoming vector'
        // contract. It can drop nothing, so fail loudly at fit time.
        require(n > 0, "semDedupFit: empty manifest — nothing to fit; " +
          "an empty manifest cannot drop incoming vectors, ingest the " +
          "first batch unfiltered instead")
        grid.k(n)
      })
      // ≤ O(manifest); reused by every batch
      SemDedupState(fit.occupied1, fit.cents2,
        if (isLocal(fit.members)) localCellGroups(fit.members, spec.cellKeys)
        else Ckpt(cellGroups(fit.members, spec.cellKeys)))
    }
  }

  /** Judge ONE incoming batch against a fitted [[SemDedupState]] — the
    * per-micro-batch body of the streaming gate too: each incoming
    * vector is assigned to its manifest (cell, sub-cell) and dropped
    * iff ≥ `threshold`-similar to any manifest group there or to a
    * smaller-id vector of THIS batch (one-pass greedy within the
    * batch; the state is frozen between refits, so vectors in
    * different batches never judge each other — the manifest-gate
    * contract). Output: one row per incoming vector — (vec_id, cid,
    * scid, kept); the manifest is never re-judged (it IS the kept
    * corpus).
    *
    * The batch's level-1 assignment ranks over OCCUPIED cells only
    * (cells with ≥1 manifest member — exactly the cids carrying
    * level-2 structure, [[hierFit]]'s occupancy fact): a vector
    * falling into a member-less cell would have no sub-cell to join
    * and silently vanish from the output; restricted, it joins its
    * nearest occupied cell and is judged there. Per-batch cost is
    * bounded by the batch: |B|·2k assignment plus the within-sub-cell
    * pair join over distinct groups. */
  def semDedupGateBatch(spec: SemDedupSpec, state: SemDedupState,
      incoming: DataFrame): DataFrame = {
    gateGrid(spec) // rejects a flat spec
    withSemDedupBase(spec, incoming) { inc =>
      semDedupPrune(spec, assignSubClusters(
        assignClusters(inc, state.centroids1), state.centroids2, "cid"),
        Some(state.manGroups))
    }
  }

  /** The ingest gate's grid: the hierarchical one, whose refit and
    * per-batch assignment stay on the N·2k cost line. */
  private def gateGrid(spec: SemDedupSpec): SemDedupGrid.Hier =
    spec.grid match {
      case h: SemDedupGrid.Hier => h
      case g => throw new IllegalArgumentException(
        s"the semantic ingest gate runs on the hierarchical grid, not $g")
    }

  /** Runs `body` on the SemDeDup input guard's frame — the IVF read
    * ([[vectorRows]]): NULL, NULL-element and zero-norm embeddings drop
    * (they have no cosine direction, so they can never pair), a dim
    * mismatch fails fast (dot_product would otherwise NULL every cosine
    * and the threshold filter would silently drop nothing). The frame
    * feeds the fit and the final assignment, so it persists — and is
    * reclaimed on every exit path (the PageRank/MvRefresh rule). */
  private def withSemDedupBase[T](spec: SemDedupSpec,
      embeddings: DataFrame)(body: DataFrame => T): T = {
    val base = vectorRows(embeddings, Seq(col("vec_id")), Some(spec.dim),
        "semDedup")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try body(base) finally base.unpersist()
  }

  /** The rows of `base` a `fitSampleMod` fit trains on. */
  private def fitSample(base: DataFrame, mod: Long): DataFrame =
    if (mod > 1L) base.filter(col("vec_id") % mod === 0) else base

  /** A fitted hierarchical grid: the level-1 centroids of the occupied
    * cells (cid, centroid), the level-2 centroids (cid, scid,
    * centroid) and the membership of the base (vec_id, cid, emb,
    * scid). */
  private final case class HierGrid(occupied1: DataFrame,
      cents2: DataFrame, members: DataFrame)

  /** The hierarchical grid: level 1 is a k-cluster k-means over `base`
    * (or its `fitSampleMod` slice), level 2 an independent per-cell
    * k-means of the same k over each cell's fit members — under
    * sampling, its sampled members plus the cell's min-id member, the
    * row that keeps a sample-free cell seeded. Every cid with ≥1 base
    * member carries level-2 structure, and every cid in the level-2
    * centroids is backed by ≥1 base member (a cell empty in the fresh
    * level-1 assignment has no rows to seed from and drops out) — the
    * occupancy fact [[semDedupGateBatch]]'s restricted assignment
    * relies on. `k` maps the base's row count to the grid's k.
    *
    * Within the driver gate the whole grid — both levels, the
    * occupied cells and the membership — comes from ONE collect of
    * `base` ([[hierLocal]]); otherwise from [[hierSpark]]. */
  private def hierFit(spec: SemDedupSpec, base: DataFrame,
      k: Long => Int): HierGrid = {
    import spec.{fitSampleMod, iters}
    collectFit(base, spec.dim)
      .flatMap { rows =>
        val kk = k(rows.size.toLong)
        DriverLloyd.mirrored(hierLocal(base, rows, kk, iters, fitSampleMod))
      }
      .getOrElse(hierSpark(base, k(base.count()), iters, fitSampleMod))
  }

  /** [[hierFit]] on the driver over the collected `rows` of `base`. */
  private def hierLocal(base: DataFrame, rows: FitRows, k: Int,
      iters: Int, mod: Long): HierGrid = {
    import DriverLloyd.{Cents, fit, groupBy, nearest, perKey}
    val all = rows.all
    val c1 = fit(rows, if (mod > 1L) all.filter(rows.ids(_) % mod == 0)
      else all, k, iters, Cosine)
    val cid = all.map(i => nearest(Cosine, rows.vecs(i), c1))
    val cents2: Seq[(Any, Cents)] = perKey(rows,
      groupBy(all, cid(_)).map { case (c, ix) =>
        val mn = ix.map(rows.ids).min
        c -> (if (mod > 1L)
          ix.filter(i => rows.ids(i) % mod == 0 || rows.ids(i) == mn)
        else ix)
      }, k, iters)
    val sub = cents2.toMap
    val spark = base.sparkSession
    val cidField = StructField("cid", IntegerType)
    HierGrid(
      localFrame(spark, StructType(Seq(cidField, CentroidField)),
        c1.ids.indices.filter(j => sub.contains(c1.ids(j)))
          .map(j => Row(c1.ids(j), c1.vecs(j).toSeq))),
      centroidFrame(spark, Seq(cidField),
        cents2.map { case (c, cs) => Seq(c) -> cs }, "scid"),
      localFrame(spark, StructType(Seq(base.schema("vec_id"), cidField,
          base.schema("emb"), StructField("scid", IntegerType))),
        all.toSeq.map(i => Row(rows.rawIds(i), cid(i), rows.vecs(i).toSeq,
          nearest(Cosine, rows.vecs(i), sub(cid(i)))))))
  }

  /** [[hierFit]] distributed: the level-1 membership is checkpointed
    * (it feeds every level-2 pass and the final sub-assignment), the
    * level-2 fit is [[subCellFit]] keyed on `cid`. */
  private def hierSpark(base: DataFrame, k: Int, iters: Int,
      fitSampleMod: Long): HierGrid = {
    val cent1 = kmeansSpark(fitSample(base, fitSampleMod), k, iters, Cosine)
    val m1 = Ckpt(assignClusters(base, cent1))
    val m1fit =
      if (fitSampleMod > 1L) {
        val mw = Window.partitionBy(col("cid"))
        m1.withColumn("mn", min(col("vec_id")).over(mw))
          .filter(col("vec_id") % fitSampleMod === 0 ||
            col("vec_id") === col("mn"))
          .drop("mn")
          .transform(Ckpt(_)) // sample-sized; seeds + both Lloyd passes
      } else m1
    val cents2 = subCellFit(m1fit, "cid", k, iters)
    HierGrid(cent1.join(cents2.select(col("cid")).distinct(), Seq("cid"),
        "left_semi"), cents2, assignSubClusters(m1, cents2, "cid"))
  }

  /** The SemDeDup group collapse: identical vectors assign identically,
    * so a cell's members collapse to DISTINCT (cell, value) groups
    * with their min-id representative and norm. */
  private def cellGroups(members: DataFrame, keys: Seq[String])
      : DataFrame =
    members.groupBy(keys.map(col) :+ col("emb"): _*)
      .agg(min(col("vec_id")).as("rep_id"))
      .withColumn("norm", sqrt(dot(col("emb"), col("emb"))))

  /** [[cellGroups]] of a LocalRelation membership, on the driver: the
    * same rows — the group key's −0.0 reads 0.0, as Spark normalizes
    * floating grouping keys — as a LocalRelation. */
  private def localCellGroups(members: DataFrame, keys: Seq[String])
      : DataFrame = {
    val schema = members.schema
    val iKeys = keys.map(schema.fieldIndex)
    val iId = schema.fieldIndex("vec_id")
    val iEmb = schema.fieldIndex("emb")
    val groups = members.collect() // job-free: LocalTableScan
      .groupBy(r => (iKeys.map(r.get), r.getSeq[Double](iEmb)
        .map(v => if (v == 0.0) 0.0 else v)))
      .toSeq.map { case ((key, emb), rs) =>
        Row.fromSeq(key ++ Seq(emb,
          rs.minBy(_.getAs[Number](iId).longValue).get(iId),
          math.sqrt(DriverLloyd.dot(emb.toArray, emb.toArray))))
      }
    localFrame(members.sparkSession,
      cellGroups(members, keys).schema, groups)
  }

  /** The one pair prune of the SemDeDup family: exact pairwise cosine
    * only WITHIN each cell of the membership frame, greedy
    * keep-smallest-id. With `frozen` manifest groups (the gate), those
    * rank AHEAD of every batch group: a qualifying manifest value drops
    * the batch vector whatever the ids.
    *
    * Physical shape (the r12 multiplicity finding): the pair join runs
    * over DISTINCT (cell, value) GROUPS ([[cellGroups]]), never over
    * members. Member `b` is dropped iff some qualifying group ranks
    * before it — a manifest group, or a batch group whose
    * representative id < b's vec_id — where group A qualifies against
    * b's group B when round(cos(A,B),6) ≥ threshold, INCLUDING A = B:
    * the self-cosine rounds to exactly 1.0, so own-group qualification
    * is precisely the `threshold ≤ 1` test and non-representative
    * members drop exactly as the member-level rule dictates. An EXACT
    * rewrite for every threshold — the DuckDB oracle verifies it
    * unchanged — that makes pair work quadratic in DISTINCT values per
    * cell instead of in members: dedup corpora are dup-heavy BY
    * DEFINITION (the 1000× probe corpus, 2k distinct values × 1000
    * copies, filled 80 GB of shuffle spill in the member form; the
    * group form's pair frame is 2k rows). Both materializations of the
    * gate route through [[Ckpt]], those of a whole-corpus run are local
    * checkpoints. */
  private def semDedupPrune(spec: SemDedupSpec, members0: DataFrame,
      frozen: Option[DataFrame]): DataFrame = {
    val place: DataFrame => DataFrame =
      if (frozen.isEmpty) _.localCheckpoint() else Ckpt(_)
    val keys = spec.cellKeys
    // members feeds the group collapse and the final output —
    // checkpoint so assignment runs once, not twice (a driver fit's
    // LocalRelation membership is materialized already)
    val members = if (isLocal(members0)) members0 else place(members0)
    val groups = cellGroups(members, keys)
    val batch = groups.withColumn("_batch", lit(true))
    val sources = frozen.fold(batch)(f =>
      f.withColumn("_batch", lit(false)).unionByName(batch))
    // the first-ranked qualifying source group per target group b:
    // manifest before batch, then by representative id
    val first = sources.alias("a").join(groups.alias("b"),
        keys.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _))
      .filter(round(dot(col("a.emb"), col("b.emb")) /
        (col("a.norm") * col("b.norm")), 6) >= spec.threshold)
      .groupBy(keys.map(k => col(s"b.$k")) :+ col("b.emb"): _*)
      .agg(min(struct(col("a._batch"), col("a.rep_id"))).as("q"))
    place(members.join(first, keys :+ "emb", "left")
      .select(col("vec_id") +: keys.map(col) :+
        (col("q").isNull ||
          (col("q._batch") && col("q.rep_id") >= col("vec_id")))
          .as("kept"): _*))
  }
}
