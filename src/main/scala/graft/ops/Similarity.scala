package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (`array<float>`).
  *
  *  - cosine / dot    — pure `zip_with` + `aggregate` column arithmetic
  *    (codegen'd; no UDF, no driver collect).
  *  - bruteForceTopK  — exact scan top-k: one projection + TakeOrdered; the
  *    correctness baseline at any scale that can afford a full scan.
  *  - signBucket      — random-hyperplane LSH: plane components are
  *    deterministic pseudo-randoms derived from xxhash64(plane, dim), so the
  *    "matrix" is a column expression, not broadcast state.
  *  - lshTopK         — the scale path: probe only the query's sign-bucket
  *    (and optionally 1-bit-flip neighbor buckets), exact cosine inside.
  *  - ivfTopK         — IVF-style: partition vectors by nearest of C
  *    hash-seeded centroids (computed once per job), probe nProbe cells.
  */
object Similarity {

  /** Quantization scale for bit-reproducible quantizer training: per-dim
    * sums accumulate as longs of x·2⁴⁰ (truncation toward zero), so the
    * trained centroids are identical under any partition/merge order.
    * Shared by [[trainIvf]] and [[trainPq]]; the sequential oracle twins
    * deliberately RESTATE the constant (they share no engine code), so a
    * change here must be mirrored in `SeqOracle.trainCentroids` and
    * `SeqOracle.pqTrainD` or the bit-exact twin pins fail. */
  private[graft] val TrainQ = (1L << 40).toDouble

  /** Σ aᵢ·bᵢ over two float-array columns. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity; 0 when either vector is all-zero. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d === 0.0, 0.0).otherwise(dot(a, b) / d)
  }

  /** Compiled twin of [[cosine]] — identical float multiply → double
    * accumulation in index order, so results are BIT-IDENTICAL to the
    * Column form (asserted in OpsSpec, same contract as the minhash/simhash
    * kernels). Exists because the Column form is an interpreted
    * HigherOrderFunction: on the near-dup pair-verification hot path
    * (hundreds of thousands of candidate pairs per cell/bucket) the
    * interpreter costs ~10× per pair vs this while-loop.
    */
  def cosineFast(a: Array[Float], b: Array[Float]): Double = {
    def dotF(x: Array[Float], y: Array[Float]): Double = {
      val n = math.min(x.length, y.length)
      var acc = 0.0; var i = 0
      while (i < n) { acc += (x(i) * y(i)).toDouble; i += 1 }
      acc
    }
    val d = math.sqrt(dotF(a, a)) * math.sqrt(dotF(b, b))
    if (d == 0.0) 0.0 else dotF(a, b) / d
  }

  /** [[cosineFast]] as a column function. Declared over PRIMITIVE float
    * arrays: Spark's input converter materializes ArrayData via
    * toFloatArray, so the hot loop runs unboxed (a Seq[Float] signature
    * boxes every element access).
    */
  def cosineKernel(a: Column, b: Column): Column =
    udf((x: Array[Float], y: Array[Float]) =>
      // null-propagate like the Column-form cosine it replaced: one null
      // embedding must drop the pair, not NPE the whole job
      if (x == null || y == null) Option.empty[Double] else Some(cosineFast(x, y))
    ).apply(a, b)

  /** Exact top-k by cosine against one query vector (a literal — the plan is
    * scan → project → TakeOrdered; no shuffle beyond the final k).
    */
  def bruteForceTopK(df: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Float], k: Int): DataFrame = {
    val q = typedLit(query)
    df.select(col(idCol), cosine(col(vecCol), q).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane p, dim j):
    * xxhash64(p, j) mapped to ±1. The full plane set is implied by the hash —
    * nothing is stored or broadcast.
    */
  private def planeComponent(p: Column, j: Column): Column =
    when(xxhash64(p, j).bitwiseAND(1) === 1, 1.0d).otherwise(-1.0d)

  /** LSH sign bucket: one bit per hyperplane = sign of ⟨v, plane_p⟩.
    * `planeOffset` selects an independent plane family (band b uses planes
    * [b·p, (b+1)·p) — the banded multi-probe used by embedding near-dup).
    */
  def signBucket(v: Column, planes: Int, planeOffset: Int = 0): Column =
    aggregate(
      transform(sequence(lit(planeOffset), lit(planeOffset + planes - 1)), p => {
        val proj = aggregate(
          zip_with(v, sequence(lit(0), size(v) - 1),
            (x, j) => x * planeComponent(p, j)),
          lit(0.0d), (acc, x) => acc + x)
        when(proj > 0, call_function("shiftleft", lit(1L), p - planeOffset)).otherwise(lit(0L))
      }),
      lit(0L), (acc, bit) => acc.bitwiseOR(bit))

  /** ±1 hyperplane component for (plane p, dim j) as a driver-side scalar —
    * the exact xxh64 chain of [[signBucketFast]] (seed 42, IntegerType hash
    * chaining), exposed so the LSH oracle export shares the one definition.
    * Any drift from the kernel fails the driver compare, not silently. */
  private[graft] def planeSign(p: Int, j: Int): Double = {
    val seedP = graft.core.Xxh64.hashInt(p, 42L)
    if ((graft.core.Xxh64.hashInt(j, seedP) & 1L) == 1L) 1.0 else -1.0
  }

  /** Compiled per-row twin of [[signBucket]] — BIT-IDENTICAL to the Column
    * spec form (asserted by OpsSpec): Spark 4 interprets HOF lambdas, so the
    * hot bucketing path runs as a JVM kernel while the Column form stays the
    * executable spec. `xxhash64(p, j)` chains IntegerType hashes, seed 42.
    */
  def signBucketFast(v: Seq[Float], planes: Int, planeOffset: Int = 0): Long = {
    var acc = 0L
    var p = planeOffset
    while (p < planeOffset + planes) {
      val seedP = graft.core.Xxh64.hashInt(p, 42L)
      var proj = 0.0
      var j = 0
      val n = v.length
      while (j < n) {
        val comp = if ((graft.core.Xxh64.hashInt(j, seedP) & 1L) == 1L) 1.0 else -1.0
        proj += v(j) * comp
        j += 1
      }
      if (proj > 0) acc |= 1L << (p - planeOffset)
      p += 1
    }
    acc
  }

  /** ANN top-k: probe the query's sign bucket plus all 1-bit-flip neighbors
    * (multi-probe), exact cosine within. At 100 TB the bucketed table is
    * written partitioned by bucket → the probe is a partition-pruned scan.
    */
  def lshTopK(df: DataFrame, idCol: String, vecCol: String,
              query: Seq[Float], k: Int, planes: Int = 8): DataFrame = {
    val q = typedLit(query)
    // query bucket is data-independent → a driver-side scalar of the same
    // kernel; data-side buckets run the compiled kernel (spec twin asserted)
    val qBucket = signBucketFast(query, planes)
    val probes = (0 until planes).map(p => qBucket ^ (1L << p)) :+ qBucket
    val bucketU = udf((v: Seq[Float]) => signBucketFast(v, planes))
    df.select(col(idCol), col(vecCol).as("v"))
      .withColumn("bucket", bucketU(col("v")))
      .where(col("bucket").isin(probes: _*))
      .select(col(idCol), cosine(col("v"), q).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  /** IVF coarse quantizer: centroid c of C cells has components derived from
    * xxhash64(c, dim) in [-1, 1]; cell of a vector = argmin distance² to the
    * centroids, computed as a column expression (no kmeans state, fully
    * deterministic — the quality of a real trained quantizer is not the
    * point; the partition-pruned probe topology is).
    */
  private[graft] def centroidComponent(c: Column, j: Column): Column =
    (pmod(xxhash64(c, j), lit(2001L)).cast("double") - 1000.0d) / 1000.0d

  def ivfCell(v: Column, cells: Int): Column = {
    val dists = transform(sequence(lit(0), lit(cells - 1)), c =>
      aggregate(
        zip_with(v, sequence(lit(0), size(v) - 1),
          (x, j) => (x - centroidComponent(c, j)) * (x - centroidComponent(c, j))),
        lit(0.0d), (acc, x) => acc + x))
    array_position(dists, array_min(dists)).cast("int") - 1
  }

  /** IVF top-k: score only vectors in the query's nProbe nearest cells. */
  def ivfTopK(df: DataFrame, idCol: String, vecCol: String,
              query: Seq[Float], k: Int, cells: Int = 16, nProbe: Int = 4): DataFrame = {
    val q = typedLit(query)
    val qDists = transform(sequence(lit(0), lit(cells - 1)), c =>
      aggregate(
        zip_with(q, sequence(lit(0), lit(query.size - 1)),
          (x, j) => (x - centroidComponent(c, j)) * (x - centroidComponent(c, j))),
        lit(0.0d), (acc, x) => acc + x))
    val qCells = slice(transform(array_sort(
        zip_with(qDists, sequence(lit(0), lit(cells - 1)),
          (d, c) => struct(d.as("d"), c.as("c")))),
      s => s.getField("c")), 1, nProbe)
    df.select(col(idCol), col(vecCol).as("v"))
      .withColumn("cell", ivfCell(col("v"), cells))
      .where(array_contains(qCells, col("cell")))
      .select(col(idCol), cosine(col("v"), q).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  // ---- trained IVF (distributed k-means coarse quantizer) ------------------

  /** Squared distance of a vector column to one literal centroid. */
  private def distSqTo(v: Column, c: Seq[Double]): Column =
    aggregate(zip_with(v.cast("array<double>"), typedLit(c),
      (x, m) => (x - m) * (x - m)), lit(0.0d), (acc, x) => acc + x)

  /** argmin cell over literal centroids (a broadcast-free column expr) —
    * the executable SPEC form; fine for small quantizers but its expression
    * tree is O(cells·dim) nodes. The hot path uses [[nearestCellKernel]],
    * equality-asserted against this form in OpsSpec. */
  def nearestCell(v: Column, centroids: Seq[Seq[Double]]): Column = {
    val dists = array(centroids.map(c => distSqTo(v, c)): _*)
    array_position(dists, array_min(dists)).cast("int") - 1
  }

  /** Compiled kernel twin of [[nearestCell]]: the centroid matrix rides as
    * ONE broadcast per job instead of plan literals — at real quantizer
    * sizes (thousands of cells × hundreds of dims) the literal form's
    * expression tree explodes Catalyst planning, the kernel does not.
    * First-min argmin, per-element (x − m)² accumulation in index order —
    * bit-identical to the Column form. Input column must be array<double>
    * (cast upstream, exactly like the spec form's internal cast).
    */
  def nearestCellKernel(spark: org.apache.spark.sql.SparkSession,
                        centroids: Seq[Seq[Double]]): Column => Column =
    nearestCellKernelTracked(spark, centroids)._1

  /** As [[nearestCellKernel]], returning the broadcast handle so callers
    * whose jobs complete synchronously (the training loop) can `destroy()`
    * it instead of waiting on the ContextCleaner. */
  def nearestCellKernelTracked(spark: org.apache.spark.sql.SparkSession,
                               centroids: Seq[Seq[Double]])
      : (Column => Column,
         org.apache.spark.broadcast.Broadcast[Array[Array[Double]]]) = {
    val bc = spark.sparkContext.broadcast(centroids.map(_.toArray).toArray)
    val cellU = udf { (v: Seq[Double]) =>
      val cs = bc.value
      var best = Double.MaxValue; var bi = 0; var i = 0
      while (i < cs.length) {
        val c = cs(i)
        var acc = 0.0; var j = 0
        val n = math.min(v.length, c.length)
        while (j < n) { val d = v(j) - c(j); acc += d * d; j += 1 }
        if (acc < best) { best = acc; bi = i }
        i += 1
      }
      bi
    }
    ((v: Column) => cellU(v), bc)
  }

  /** Train an IVF coarse quantizer with Lloyd's iterations, each one Spark
    * aggregation pass (the MLlib shape): assignment is an argmin column expr
    * over the current centroids (shipped as plan literals), the update is
    * `posexplode(vec) → groupBy(cell, dim).sum/count` — map-side partial
    * combine, one shuffle of ≤ C·dim rows per iteration, centroids collected
    * to the driver (C·dim scalars, tiny). Deterministic: initial centroids
    * are the first C vectors in id order; training runs on a deterministic
    * hash-sample (`trainFraction`) — at 100 TB you never k-means the full
    * corpus, you train the quantizer on a sample and assign everything else.
    * Empty cells keep their previous centroid.
    */
  def trainIvf(df: DataFrame, idCol: String, vecCol: String, cells: Int,
               iters: Int = 5, trainFraction: Double = 1.0): Seq[Seq[Double]] = {
    val sample =
      if (trainFraction >= 1.0) df
      else df.where(pmod(xxhash64(col(idCol)), lit(math.max(1L, (1.0 / trainFraction).toLong))) === 0)
    val train = sample.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v")).cache()
    var centroids: Seq[Seq[Double]] = train.orderBy("id").limit(cells)
      .select("v").collect().map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq
    var it = 0
    while (it < iters) {
      // per-iteration centroid broadcast, destroyed after the synchronous
      // collect — a large quantizer times many iterations must not pile up
      // broadcasts for the session lifetime
      val (cellOf, bcHandle) = nearestCellKernelTracked(df.sparkSession, centroids)
      // QUANTIZED-LONG sums (x·2⁴⁰ truncated toward zero), like trainPq:
      // long addition is associative-commutative, so the centroid means are
      // bit-identical under ANY partition/merge order — double sums here
      // would make the trained quantizer depend on executor scheduling at
      // cluster scale (and desynchronize the sequential oracle twins)
      val sums = train
        .withColumn("cell", cellOf(col("v")))
        .select(col("cell"), posexplode(col("v")).as(Seq("j", "x")))
        .select(col("cell"), col("j"), (col("x") * TrainQ).cast("long").as("xq"))
        .groupBy("cell", "j").agg(sum("xq").as("sq"), count(lit(1)).as("n"))
        .collect()
      bcHandle.destroy()
      val byCell = sums.groupBy(_.getInt(0))
      centroids = centroids.zipWithIndex.map { case (old, c) =>
        byCell.get(c) match {
          case Some(rows) =>
            rows.sortBy(_.getInt(1))
              .map(r => (r.getLong(2).toDouble / r.getLong(3)) / TrainQ)
              .toIndexedSeq
          case None => old // empty cell: keep previous centroid
        }
      }
      it += 1
    }
    train.unpersist()
    centroids
  }

  /** Mean squared distance to the assigned centroid (the k-means objective —
    * exposed so tests can assert Lloyd's monotone descent). */
  def ivfObjective(df: DataFrame, vecCol: String, centroids: Seq[Seq[Double]]): Double = {
    val dists = array(centroids.map(c => distSqTo(col(vecCol), c)): _*)
    df.select(array_min(dists).as("d")).agg(avg("d")).head().getDouble(0)
  }

  /** IVF top-k over a TRAINED quantizer: assign = argmin over the trained
    * centroids, probe the query's nProbe nearest cells, exact cosine within.
    * Same partition-pruned probe topology as `ivfTopK` (write the assigned
    * table partitioned by cell; the probe reads only nProbe cells), with a
    * data-adapted quantizer instead of hash-seeded centroids.
    */
  def ivfTopKTrained(df: DataFrame, idCol: String, vecCol: String,
                     query: Seq[Float], k: Int, centroids: Seq[Seq[Double]],
                     nProbe: Int = 4): DataFrame = {
    val q = typedLit(query)
    val qCells = centroids.zipWithIndex
      .map { case (c, i) =>
        val d = c.zip(query).map { case (m, x) => (x - m) * (x - m) }.sum
        (d, i)
      }.sortBy(_._1).take(nProbe).map(_._2)
    // the returned DataFrame is lazy, so this call's one centroid broadcast
    // cannot be destroyed here; it is freed by the ContextCleaner when the
    // plan is no longer referenced
    df.select(col(idCol), col(vecCol).as("v"))
      .withColumn("cell",
        nearestCellKernel(df.sparkSession, centroids)(col("v").cast("array<double>")))
      .where(col("cell").isin(qCells: _*))
      .select(col(idCol), cosine(col("v"), q).as("sim"))
      .orderBy(col("sim").desc, col(idCol))
      .limit(k)
  }

  // ---- product quantization (Jégou et al. 2011, "Product Quantization
  // for Nearest Neighbor Search") — the COMPRESSED-vector scale path:
  // a 1024-dim float vector becomes m small codes (m bytes at k=256; here
  // k=16 for the toy corpus), so a 100 TB embedding table's search
  // structure fits in a fraction of the space and ADC scoring reads only
  // the code column. ---------------------------------------------------

  /** Trained per-subspace codebooks: `centroids(s)(c)` is the c-th centroid
    * of subspace s (subDim doubles). */
  final case class PqCodebooks(m: Int, k: Int, subDim: Int,
                               centroids: Array[Array[Array[Double]]])

  /** Per-subspace argmin codes of one vector (first-min tie-break, index
    * order accumulation — the one definition shared by training, encoding,
    * and the sequential oracle twin). */
  def pqCodes(v: Seq[Double], cb: PqCodebooks): Array[Int] = {
    val out = new Array[Int](cb.m)
    var s = 0
    while (s < cb.m) {
      val base = s * cb.subDim
      var best = Double.MaxValue; var bi = 0; var c = 0
      while (c < cb.centroids(s).length) {
        val cen = cb.centroids(s)(c)
        var acc = 0.0; var j = 0
        while (j < cb.subDim) {
          val d = v(base + j) - cen(j); acc += d * d; j += 1
        }
        if (acc < best) { best = acc; bi = c }
        c += 1
      }
      out(s) = bi
      s += 1
    }
    out
  }

  /** Train PQ codebooks: Lloyd's per subspace, ALL subspaces updated in one
    * aggregation pass per iteration (`posexplode(vec)` → key (subspace,
    * code, dim) → quantized-long partial sums). Sums accumulate as
    * `(x·2^40).toLong` longs (truncation toward ZERO — matches Spark's
    * double→long cast; NOT floor for negative components — any further
    * twin must mirror this), so the centroid means are BIT-REPRODUCIBLE
    * under any partitioning/merge order (the float-sum order hazard of
    * iterative distributed k-means) and the sequential oracle twin matches
    * exactly. Deterministic init: subvector slices of the first k sample
    * vectors in id order; empty codes keep their previous centroid.
    * `trainFraction` hash-samples the training set — at corpus scale the
    * quantizer trains on a sample and encodes everything else.
    */
  def trainPq(df: DataFrame, idCol: String, vecCol: String, m: Int,
              k: Int = 16, iters: Int = 5,
              trainFraction: Double = 1.0): PqCodebooks = {
    val Q = TrainQ // the ONE engine-side training-quantization scale
    val sample =
      if (trainFraction >= 1.0) df
      else df.where(pmod(xxhash64(col(idCol)), lit(math.max(1L, (1.0 / trainFraction).toLong))) === 0)
    val train = sample.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
      .where(col("v").isNotNull) // null vectors drop, they must not NPE the kernels
      .cache()
    val firstRow = train.select(size(col("v"))).head(1)
    require(firstRow.nonEmpty,
      s"trainPq: training set is empty after sampling (trainFraction=" +
        s"$trainFraction) and null-vector filtering on '$vecCol' — raise " +
        "trainFraction or check the vector column")
    val dim = firstRow(0).getInt(0)
    require(dim % m == 0, s"m=$m must divide dim=$dim")
    val subDim = dim / m
    val init = train.orderBy("id").limit(k).select("v").collect()
      .map(_.getSeq[Double](0).toArray)
    require(init.nonEmpty, "trainPq: no initialization vectors") // unreachable given firstRow, kept as a belt
    var cb = PqCodebooks(m, k, subDim,
      Array.tabulate(m, k)((s, c) =>
        init(c % init.length).slice(s * subDim, (s + 1) * subDim)))
    var it = 0
    while (it < iters) {
      val bc = df.sparkSession.sparkContext.broadcast(cb)
      val codeU = udf((v: Seq[Double]) => pqCodes(v, bc.value).toSeq)
      val sums = train
        .withColumn("codes", codeU(col("v")))
        .select(col("codes"), posexplode(col("v")).as(Seq("j", "x")))
        .select((col("j") / subDim).cast("int").as("s"), col("j"),
          element_at(col("codes"), (col("j") / subDim).cast("int") + 1).as("code"),
          (col("x") * Q).cast("long").as("xq"))
        .groupBy("s", "code", "j").agg(sum("xq").as("sq"), count(lit(1)).as("n"))
        .collect()
      bc.destroy()
      // row schema after groupBy(s, code, j): s(0), code(1), j(2), sq(3), n(4)
      val next = Array.tabulate(m, k)((s, c) => cb.centroids(s)(c))
      sums.groupBy(r => (r.getInt(0), r.getInt(1))).foreach { case ((s, c), rows) =>
        val cen = new Array[Double](subDim)
        rows.foreach { r =>
          cen(r.getInt(2) - s * subDim) =
            (r.getLong(3).toDouble / r.getLong(4)) / Q
        }
        next(s)(c) = cen
      }
      cb = PqCodebooks(m, k, subDim, next)
      it += 1
    }
    train.unpersist()
    cb
  }

  /** Encode a corpus: (id, codes) — the compressed search structure (m
    * small ints per vector, written once; searches never touch the float
    * column again). */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
               cb: PqCodebooks): DataFrame = {
    val bc = df.sparkSession.sparkContext.broadcast(cb)
    val codeU = udf((v: Seq[Double]) => pqCodes(v, bc.value).toSeq)
    df.select(col(idCol), col(vecCol).cast("array<double>").as("__v"))
      .where(col("__v").isNotNull) // null vectors drop, not NPE
      .select(col(idCol), codeU(col("__v")).as("codes"))
  }

  /** ADC top-k over a PRE-ENCODED corpus (the at-scale entry point: encode
    * once with [[pqEncode]], persist the (id, codes) table, search it many
    * times without ever touching the float column). */
  def pqTopKEncoded(codes: DataFrame, idCol: String, query: Seq[Float],
                    k: Int, cb: PqCodebooks): DataFrame = {
    val table = pqAdcTable(query.map(_.toDouble), cb)
    val bc = codes.sparkSession.sparkContext.broadcast(table)
    val adcU = udf { (cs: Seq[Int]) =>
      val t = bc.value
      var acc = 0.0; var s = 0
      while (s < cs.length) { acc += t(s)(cs(s)); s += 1 }
      acc
    }
    codes.select(col(idCol), adcU(col("codes")).as("adc_d2"))
      .orderBy(col("adc_d2"), col(idCol))
      .limit(k)
  }

  /** ADC distance table for one query: `table(s)(c) = ||q_s − centroid||²`
    * (fixed index-order accumulation). */
  def pqAdcTable(query: Seq[Double], cb: PqCodebooks): Array[Array[Double]] =
    Array.tabulate(cb.m, cb.k) { (s, c) =>
      val cen = cb.centroids(s)(c)
      var acc = 0.0; var j = 0
      while (j < cb.subDim) {
        val d = query(s * cb.subDim + j) - cen(j); acc += d * d; j += 1
      }
      acc
    }

  /** Approximate top-k by PQ/ADC: encode in-plan, score each row with m
    * table lookups (the table is one tiny broadcast), TakeOrdered the k
    * smallest distances — scan → project → TakeOrdered, no shuffle, and at
    * scale the scan reads the CODE column only (encode once, search many).
    */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String, query: Seq[Float],
             k: Int, cb: PqCodebooks): DataFrame =
    pqTopKEncoded(pqEncode(df, idCol, vecCol, cb), idCol, query, k, cb)

  /** IVF-PQ (Jégou 2011 §IV, the FAISS IVFADC layout): the trained coarse
    * quantizer assigns each vector to a cell, ONE shared PQ codebook set
    * trains on the RESIDUALS (v − centroid), and a query probes its nProbe
    * nearest cells scoring codes against per-cell ADC tables built from the
    * query's residual in that cell. At 100 TB the (cell, id, codes) table
    * is written partitioned by cell — a probe is a partition-pruned scan
    * over m-byte codes; neither the float column nor the unprobed cells are
    * ever read.
    */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
                query: Seq[Float], k: Int, cells: Int = 8, m: Int = 8,
                cbk: Int = 16, iters: Int = 3, trainFraction: Double = 1.0,
                nProbe: Int = 4): DataFrame = {
    val (model, codesTable) =
      trainIvfPq(df, idCol, vecCol, cells, m, cbk, iters, trainFraction)
    adcProbe(codesTable, model, idCol, query, k, nProbe)
  }

  /** Trained IVF-PQ structure: coarse cell centroids + the ONE shared PQ
    * codebook set trained on residuals. Everything a probe needs besides
    * the (cell, id, codes) table itself. */
  final case class IvfPqModel(centroids: Seq[Seq[Double]], cb: PqCodebooks)

  /** Train coarse + residual-PQ quantizers and encode the corpus ONCE,
    * returning the model plus the (id, cell, codes) search table — the
    * table [[writeIvfPqIndex]] persists partitioned by cell at scale.
    */
  def trainIvfPq(df: DataFrame, idCol: String, vecCol: String,
                 cells: Int = 8, m: Int = 8, cbk: Int = 16, iters: Int = 3,
                 trainFraction: Double = 1.0): (IvfPqModel, DataFrame) = {
    val spark = df.sparkSession
    // null vectors drop here, before ANY kernel (coarse training included)
    val clean = df.select(col(idCol), col(vecCol).cast("array<double>").as("v"))
      .where(col("v").isNotNull)
    val centroids = trainIvf(clean, idCol, "v", cells, iters, trainFraction)
    // ONE centroid broadcast shared by the assignment kernel and the
    // residual projection (freed by the ContextCleaner with the lazy plan)
    val (cellU, bcCent) = nearestCellKernelTracked(spark, centroids)
    val residU = udf { (cell: Int, v: Seq[Double]) =>
      val c = bcCent.value(cell)
      val out = new Array[Double](v.length)
      var j = 0
      while (j < v.length) { out(j) = v(j) - c(j); j += 1 }
      out.toSeq
    }
    // residual table materialized once (PQ trainer + encoder read it); the
    // raw vector column is dropped before the checkpoint — only (id, cell,
    // rv) lands in block storage
    val assigned = clean
      .withColumn("cell", cellU(col("v")))
      .withColumn("rv", residU(col("cell"), col("v")))
      .drop("v")
      .localCheckpoint(false)
    val cb = trainPq(assigned, idCol, "rv", m, cbk, iters, trainFraction)
    // encode ONCE: the search structure is (cell, id, codes) — at scale this
    // is the table written partitioned by cell; probes below never read rv
    val bcCb = spark.sparkContext.broadcast(cb)
    val codeU = udf((rv: Seq[Double]) => pqCodes(rv, bcCb.value).toSeq)
    val codesTable = assigned
      .select(col(idCol), col("cell"), codeU(col("rv")).as("codes"))
    (IvfPqModel(centroids, cb), codesTable)
  }

  /** Score a (id, cell, codes) table against one query: probe the nProbe
    * nearest cells with per-cell ADC tables built from the query's residual.
    * The cell filter is a partition filter when the table was written with
    * [[writeIvfPqIndex]] — the scan then READS only the probed cells. */
  private def adcProbe(codesTable: DataFrame, model: IvfPqModel, idCol: String,
                       query: Seq[Float], k: Int, nProbe: Int): DataFrame = {
    val spark = codesTable.sparkSession
    val qd = query.map(_.toDouble)
    val qCells = model.centroids.zipWithIndex.map { case (c, i) =>
      (c.zip(qd).map { case (mm, x) => (x - mm) * (x - mm) }.sum, i)
    }.sortBy(_._1).take(nProbe).map(_._2)
    val tables: Map[Int, Array[Array[Double]]] = qCells.map { ci =>
      val cen = model.centroids(ci)
      ci -> pqAdcTable(qd.zip(cen).map { case (x, mm) => x - mm }, model.cb)
    }.toMap
    val bcT = spark.sparkContext.broadcast(tables)
    // ADC scoring = m table lookups per row, nothing else
    val adcU = udf { (cell: Int, cs: Seq[Int]) =>
      val t = bcT.value(cell)
      var acc = 0.0; var s = 0
      while (s < cs.length) { acc += t(s)(cs(s)); s += 1 }
      acc
    }
    codesTable.where(col("cell").isin(qCells.toIndexedSeq: _*))
      .select(col(idCol), adcU(col("cell"), col("codes")).as("adc_d2"))
      .orderBy(col("adc_d2"), col(idCol))
      .limit(k)
  }

  /** Persist the IVF-PQ search structure at `path`, PARTITIONED BY CELL —
    * the layout the ivfPqTopK scaladoc promises: a probe over the written
    * index is a partition-pruned scan that reads only its nProbe cell
    * directories of m-byte codes (PlanSpec pins PartitionFilters + the
    * partitions-read metric); the float vectors are nowhere in the index.
    * Returns the model a probe needs ([[ivfPqProbeIndex]]).
    */
  def writeIvfPqIndex(df: DataFrame, idCol: String, vecCol: String,
                      path: String, cells: Int = 8, m: Int = 8, cbk: Int = 16,
                      iters: Int = 3, trainFraction: Double = 1.0): IvfPqModel = {
    val (model, codesTable) =
      trainIvfPq(df, idCol, vecCol, cells, m, cbk, iters, trainFraction)
    codesTable.write.mode("overwrite").partitionBy("cell").parquet(path)
    model
  }

  /** Top-k probe over a persisted [[writeIvfPqIndex]] layout: the cell
    * membership predicate lands in the scan's PartitionFilters, so only the
    * probed cell directories are listed and read. */
  def ivfPqProbeIndex(spark: org.apache.spark.sql.SparkSession, path: String,
                      model: IvfPqModel, idCol: String, query: Seq[Float],
                      k: Int, nProbe: Int = 4): DataFrame =
    adcProbe(spark.read.parquet(path), model, idCol, query, k, nProbe)
}
