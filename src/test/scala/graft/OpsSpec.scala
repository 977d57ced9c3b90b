package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops._

/** Training-data operator tests over the shared sf0.001 tables plus
  * constructed near-duplicates (the synthetic corpus has no natural dups).
  */
class OpsSpec extends AnyFunSuite {
  import SparkTestSession.spark
  import spark.implicits._

  val sf = "/root/testdata/sf0.001"
  lazy val docs = spark.read.parquet(s"$sf/documents.parquet").cache()
  lazy val embs = spark.read.parquet(s"$sf/embeddings.parquet").cache()

  /** documents ∪ exact copies (id+10000) ∪ light edits (id+20000, one word
    * appended) — known dup structure for recall checks.
    */
  lazy val withDups = {
    val base = docs.select(col("doc_id"), col("text")).where(col("doc_id") < 50)
    base
      .unionByName(base.select(col("doc_id") + 10000 as "doc_id", col("text")))
      .unionByName(base.select(col("doc_id") + 20000 as "doc_id",
        concat(col("text"), lit(" trailing marker words here")).as("text")))
      .cache()
  }

  test("exact dedup: one survivor per content, smallest id wins") {
    val out = Dedup.exact(withDups, "doc_id", "text")
    assert(out.count() == 100) // 50 unique texts + 50 edited variants
    val survivors = out.select("doc_id").as[Long].collect().toSet
    assert(survivors.filter(_ < 10000).size == 50)   // originals beat exact copies
    assert(!survivors.exists(id => id >= 10000 && id < 20000))
  }

  test("minhash LSH: finds exact and near dups, estimate tracks true jaccard") {
    val pairs = Dedup.minHashLsh(withDups, "doc_id", "text",
        k = 32, bands = 8, minEstJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // every exact copy pair (i, i+10000) must be found with estimate 1.0
    val exactPairs = pairs.filter { case (a, b, _) => a < 10000 && b == a + 10000 }
    assert(exactPairs.length == 50, s"got ${exactPairs.length}")
    assert(exactPairs.forall(_._3 == 1.0))
    // appended-words variants are near dups: mostly found, estimates high
    val nearPairs = pairs.filter { case (a, b, _) => a < 10000 && b == a + 20000 }
    assert(nearPairs.length >= 40, s"near-dup recall too low: ${nearPairs.length}/50")
    assert(nearPairs.forall(_._3 >= 0.5))
    // sanity: high estimates on unstructured pairs reflect genuinely high
    // true Jaccard (the word-salad corpus has chance-similar short docs)
    val cross = pairs.filter { case (a, b, est) => (b - a) % 10000 != 0 && est > 0.9 }
    val texts = withDups.select("doc_id", "text").as[(Long, String)].collect().toMap
    def shingleSet(t: String): Set[String] = {
      val toks = t.toLowerCase.split("[^a-z]+").filter(_.nonEmpty)
      if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
      else Set(toks.mkString(" "))
    }
    cross.foreach { case (a, b, est) =>
      val sa = shingleSet(texts(a)); val sb = shingleSet(texts(b))
      val j = sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
      assert(j >= 0.5, s"LSH estimate $est for pair ($a,$b) but true jaccard $j")
    }
  }

  test("incremental minhash: index probe == full recompute restricted to cross pairs") {
    val oldDocs = docs.select(col("doc_id"), col("text")).where(col("doc_id") < 50)
    val incoming = docs.select(col("doc_id"), col("text"))
      .where(col("doc_id") >= 50 && col("doc_id") < 100)
      .unionByName(oldDocs.select(col("doc_id") + 10000 as "doc_id", col("text")))
      .unionByName(oldDocs.select(col("doc_id") + 20000 as "doc_id",
        concat(col("text"), lit(" trailing marker words here")).as("text")))
    val idx = Dedup.minHashIndex(oldDocs, "doc_id", "text", k = 32, bands = 8)
    val incr = Dedup.minHashLshAgainst(incoming, "doc_id", "text", idx,
        k = 32, bands = 8, minEstJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // ground truth: the full self-join over old ∪ incoming, cross pairs only
    // (old ids are all < 50 < every incoming id, so a is the old side)
    val full = Dedup.minHashLsh(oldDocs.unionByName(incoming), "doc_id", "text",
        k = 32, bands = 8, minEstJaccard = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .filter { case (a, b, _) => a < 50 && b >= 50 }
      .map { case (a, b, est) => (b, a, est) }.toSet
    assert(incr == full,
      s"only-incremental=${(incr -- full).take(5)} only-full=${(full -- incr).take(5)}")
    // and the exact copies of indexed docs are all caught at estimate 1.0
    assert(incr.count { case (n, o, est) => n == o + 10000 && est == 1.0 } == 50)
  }

  test("dedupIncremental: drops index matches and in-batch dups, keeps canonical") {
    val oldDocs = docs.select(col("doc_id"), col("text")).where(col("doc_id") < 50)
    val batch = docs.select(col("doc_id"), col("text"))
      .where(col("doc_id") >= 50 && col("doc_id") < 100)
    val incoming = batch
      .unionByName(oldDocs.select(col("doc_id") + 10000 as "doc_id", col("text")))
      .unionByName(batch.select(col("doc_id") + 30000 as "doc_id", col("text")))
    val idx = Dedup.minHashIndex(oldDocs, "doc_id", "text")
    val kept = Dedup.dedupIncremental(incoming, "doc_id", "text", idx)
      .select("doc_id").as[Long].collect().toSet
    // every exact copy of an indexed doc is gone
    assert(!kept.exists(id => id >= 10000 && id < 20000), kept.filter(_ >= 10000))
    // every in-batch exact copy loses to its smaller-id original: if the
    // original survived the index probe its copy is non-canonical; if it
    // matched the index, the identical copy matched too
    assert(!kept.exists(_ >= 30000), kept.filter(_ >= 30000))
    assert(kept.nonEmpty && kept.forall(id => id >= 50 && id < 100))
  }

  test("connected components: chains, triangles, stars, isolated edges") {
    // components: {1,2,3,4} (chain), {10,11,12} (triangle), {20,21} (edge),
    // {30..34} (star centered off-min)
    val edges = Seq(
      (2L, 1L), (2L, 3L), (4L, 3L),          // chain 1-2-3-4
      (10L, 11L), (11L, 12L), (10L, 12L),    // triangle
      (21L, 20L),                            // single edge
      (33L, 30L), (33L, 31L), (33L, 32L), (33L, 34L) // star, center 33
    ).toDF("id_a", "id_b")
    val got = Dedup.connectedComponents(edges, "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    val want = Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L, 33L -> 30L, 34L -> 30L)
    assert(got == want, s"got $got")
  }

  test("connected components: random graphs agree with sequential union-find") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val n = 60 + trial * 40
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      // sequential union-find oracle
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val touched = edges.flatMap { case (a, b) => Seq(a, b) }.distinct
      val want = touched.map { v =>
        // component label = min id reachable = root after path-min unions
        val members = touched.filter(u => find(u.toInt) == find(v.toInt))
        v -> members.min
      }.toMap
      val got = Dedup.connectedComponents(edges.toDF("id_a", "id_b"), "id_a", "id_b")
        .as[(Long, Long)].collect().toMap
      assert(got == want, s"trial $trial: got $got want $want")
    }
  }

  test("near-dup clusters: exact+near copies collapse to one canonical doc") {
    val labeled = Dedup.nearDupClusters(withDups, "doc_id", "text",
      k = 32, bands = 8, minEstJaccard = 0.5)
    val rows = labeled.as[(Long, Long, Boolean)].collect()
    assert(rows.length == 150) // every input row labeled
    val byId = rows.map(r => r._1 -> r).toMap
    // each (i, i+10000, i+20000) family lands in one cluster rooted at i —
    // unless chance near-dups merged families, the root is still ≤ i
    for (i <- 0L until 50L if byId(i + 10000)._2 == i && byId(i + 20000)._2 == i) {
      assert(byId(i)._2 == i && byId(i)._3, s"family $i root not canonical")
      assert(!byId(i + 10000)._3 && !byId(i + 20000)._3)
    }
    // exactly one canonical row per component, and it is the component min
    val comps = rows.groupBy(_._2)
    comps.foreach { case (c, members) =>
      val canon = members.filter(_._3)
      assert(canon.length == 1 && canon.head._1 == c,
        s"component $c canonical rows: ${canon.mkString(",")}")
      assert(members.map(_._1).min == c)
    }
  }

  test("fast signature kernels are bit-identical to the Column spec forms") {
    val sample = docs.select(col("doc_id"), col("text")).where(col("doc_id") < 10)
    // minhash: compiled kernel vs the HOF aggregate over Spark's xxhash64
    val colSigs = sample.select(col("doc_id"),
        Dedup.minHashSignature(TextAnalysis.shingles(col("text"), 3), 16).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val texts = sample.as[(Long, String)].collect()
    texts.foreach { case (id, t) =>
      assert(Dedup.minHashSignatureFast(t, 16, 3).toSeq == colSigs(id),
        s"minhash kernel diverges on doc $id")
    }
    // md5-basis minhash: compiled kernel vs the md5 HOF Column form
    val colMd5 = sample.select(col("doc_id"),
        Dedup.minHashSignatureMd5(TextAnalysis.shingles(col("text"), 3), 16).as("sig"))
      .as[(Long, Seq[String])].collect().toMap
    texts.foreach { case (id, t) =>
      assert(Dedup.minHashSignatureMd5Fast(t, 16, 3).toSeq == colMd5(id),
        s"md5 minhash kernel diverges on doc $id")
    }
    // simhash: compiled kernel vs the 64-slot vote Column aggregate
    val colSim = sample.select(col("doc_id"), Dedup.simHash(col("text")).as("s"))
      .as[(Long, Long)].collect().toMap
    texts.foreach { case (id, t) =>
      assert(Dedup.simHashFast(t) == colSim(id), s"simhash kernel diverges on doc $id")
    }
    // fixed-width chunking: compiled kernel vs the sequence/slice Column form
    val sample2 = docs.select(col("doc_id"), col("text")).where(col("doc_id") < 30)
    val toksCol = TextAnalysis.tokens(col("text"))
    val chunkCol = transform(
      sequence(lit(0), ((size(toksCol) - 1) / 10).cast("int")),
      i => concat_ws(" ", slice(toksCol, i * 10 + 1, lit(10))))
    val colChunks = sample2.select(col("doc_id"), chunkCol.as("c"))
      .as[(Long, Seq[String])].collect().toMap
    sample2.as[(Long, String)].collect().foreach { case (id, t) =>
      assert(TextAnalysis.fixedChunksFast(t, 10) == colChunks(id),
        s"chunk kernel diverges on doc $id")
    }
    assert(TextAnalysis.fixedChunksFast("?!", 10) == Seq("")) // token-less twin
    // sign-bucket: compiled kernel vs the Column HOF spec, several plane
    // configs incl. a banded offset
    for ((planes, off) <- Seq((6, 0), (8, 0), (5, 10))) {
      val colBuckets = embs.where(col("vec_id") < 20)
        .select(col("vec_id"),
          Similarity.signBucket(col("embedding"), planes, off).as("b"))
        .as[(Long, Long)].collect().toMap
      val vecs = embs.where(col("vec_id") < 20)
        .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])].collect()
      vecs.foreach { case (id, v) =>
        assert(Similarity.signBucketFast(v, planes, off) == colBuckets(id),
          s"sign-bucket kernel diverges on vec $id (planes=$planes off=$off)")
      }
    }
  }

  test("ngram jaccard doc-frequency cap: bounded candidates on a hot shingle") {
    // skewed corpus: every doc shares one hot shingle; rare tails only
    // within pairs (2i, 2i+1)
    val n = 40
    val letters = "abcdefghijklmnopqrstuvwxyz"
    val rows = (0 until n).map { i =>
      // letter-only markers: the tokenizer drops digits
      val rare = s"rare${letters(i / 2)}"
      val uniq = s"u${letters(i % 26)}${letters(i / 26)}"
      (i.toLong, s"hot stop words shared by all docs $rare tail$rare $uniq")
    }
    val skewed = rows.toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(skewed, "doc_id", "text",
      n = 3, minJaccard = 0.0, docFreqCap = 5)
    val cappedPairs = capped.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // candidates bounded: only the rare-shingle pairs survive, not O(n²)
    assert(cappedPairs.length == n / 2, s"expected ${n / 2} rare pairs, got ${cappedPairs.length}")
    assert(cappedPairs.forall { case (a, b, _) => b == a + 1 && a % 2 == 0 })
    // and the emitted jaccard is the EXACT one (full-set verification)
    val exact = Dedup.ngramJaccardPairs(skewed, "doc_id", "text",
        n = 3, minJaccard = 0.0)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    cappedPairs.foreach { case (a, b, j) =>
      assert(math.abs(exact((a, b)) - j) < 1e-12)
    }
    // the uncapped form on this corpus generates every pair — the quadratic
    // blowup the cap exists to avoid
    assert(exact.size == n * (n - 1) / 2)
  }

  test("embedding near-dup: banded + auto-scaled planes keep full dup recall") {
    val vecs = embs.select(col("vec_id"), col("embedding")).where(col("vec_id") < 80)
    val dupVecs = vecs.unionByName(
      vecs.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val pairs = Dedup.embeddingNearDup(dupVecs, "vec_id", "embedding",
        planes = 6, minCosine = 0.999, bands = 3, targetBucketSize = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    // identical vectors share every bucket in every band → always found
    val dupFound = pairs.count { case (a, b) => b == a + 100000 }
    assert(dupFound == 80, s"exact-dup recall ${dupFound}/80")
    // auto-scaling picked more planes than the toy default
    assert(Dedup.planesFor(160, 16) >= 4)
    assert(Dedup.planesFor(10L * 1000 * 1000 * 1000, 64) >= 24) // 10^10 rows
  }

  test("product quantization: training is bit-deterministic, exact dup of the query attains the ADC minimum") {
    import graft.ops.Similarity
    val vecs = embs.select(col("vec_id"), col("embedding")).where(col("vec_id") < 60)
    val cb = Similarity.trainPq(vecs, "vec_id", "embedding", m = 8, k = 8, iters = 2)
    val cb2 = Similarity.trainPq(vecs, "vec_id", "embedding", m = 8, k = 8, iters = 2)
    // quantized-long sums make retraining bit-identical regardless of
    // partition/merge order
    assert(cb.centroids.flatten.flatten.toSeq == cb2.centroids.flatten.flatten.toSeq)
    val q = vecs.where(col("vec_id") === 3).select("embedding")
      .as[Seq[Float]].head()
    // ADC(q, codes(q)) = Σ_s min_c ||q_s - c||² — the global minimum over
    // any code word; an exact duplicate of q therefore ties that minimum
    val withDup = vecs.unionByName(
      Seq((999999L, q)).toDF("vec_id", "embedding"))
    val top = Similarity.pqTopK(withDup, "vec_id", "embedding", q, 61, cb)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val minD = top.values.min
    assert(math.abs(top(999999L) - minD) < 1e-12)
    assert(math.abs(top(3L) - top(999999L)) < 1e-12) // identical codes
  }

  test("product quantization: engine pqTopK equals the independent sequential twin at driver params") {
    import graft.ops.Similarity
    // the driver's q_ann_pq protocol (m=8, cbk=16, iters=3, half-sample
    // training) — the seq twin re-derives training AND search from scratch,
    // keeping training independently verified now that the driver oracle
    // re-derives only encode+ADC+topk from the exported codebooks
    val vecs = embs.select(col("vec_id"), col("embedding"))
    val q = vecs.where(col("vec_id") === 0).select("embedding").as[Seq[Float]].head()
    val cb = Similarity.trainPq(vecs, "vec_id", "embedding",
      m = 8, k = 16, iters = 3, trainFraction = 0.5)
    val engine = Similarity.pqTopK(vecs, "vec_id", "embedding", q, 10, cb)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val seqVecs = vecs.as[(Long, Seq[Float])].collect().toSeq
    val twin = graft.oracle.SeqOracle.pqTopK(seqVecs, q, k = 10, m = 8,
      cbk = 16, iters = 3, trainFraction = 0.5)
    assert(engine == twin, s"engine $engine vs twin $twin")
  }

  test("ivf-pq: engine equals the independent sequential twin at driver params") {
    import graft.ops.Similarity
    // the driver's q_ann_ivfpq protocol (cells=8, m=8, cbk=16, iters=3,
    // half-sample training, nProbe=4) — the seq twin re-derives BOTH
    // trainers and the composed search from scratch, keeping training
    // independently verified now that the driver oracle re-derives only
    // assignment+encode+probe+ADC+topk from the exported model
    val vecs = embs.select(col("vec_id"), col("embedding"))
    val q = vecs.where(col("vec_id") === 0).select("embedding").as[Seq[Float]].head()
    val engine = Similarity.ivfPqTopK(vecs, "vec_id", "embedding", q, 10,
        cells = 8, m = 8, cbk = 16, iters = 3, trainFraction = 0.5, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val seqVecs = vecs.as[(Long, Seq[Float])].collect().toSeq
    val twin = graft.oracle.SeqOracle.ivfPqTopK(seqVecs, q, k = 10, cells = 8,
      m = 8, cbk = 16, iters = 3, trainFraction = 0.5, nProbe = 4)
    assert(engine == twin, s"engine $engine vs twin $twin")
  }

  test("lsh topk: engine equals the independent sequential twin at driver params") {
    import graft.ops.Similarity
    // the driver's q_ann_lsh_topk protocol (planes=6, k=10) — the seq twin
    // re-derives bucketing, the 1-bit-flip probe set, and the cosine from
    // scratch, keeping the kernel independently verified now that the
    // driver oracle re-derives the search from the exported plane matrix
    val vecs = embs.select(col("vec_id"), col("embedding"))
    val q = vecs.where(col("vec_id") === 0).select("embedding").as[Seq[Float]].head()
    val engine = Similarity.lshTopK(vecs, "vec_id", "embedding", q, 10, planes = 6)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val seqVecs = vecs.as[(Long, Seq[Float])].collect().toSeq
    val twin = graft.oracle.SeqOracle.lshTopK(seqVecs, q, k = 10, planes = 6)
    assert(engine == twin, s"engine $engine vs twin $twin")
  }

  test("trained ivf topk: engine equals the independent sequential twin at driver params") {
    import graft.ops.Similarity
    // the driver's q_ann_ivf_trained protocol (cells=8, iters=3,
    // half-sample training, nProbe=4) — the seq twin re-derives training
    // and the probe from scratch, keeping training independently verified
    // now that the driver oracle re-derives assignment+probe+cosine+topk
    // from the exported centroids
    val vecs = embs.select(col("vec_id"), col("embedding"))
    val q = vecs.where(col("vec_id") === 0).select("embedding").as[Seq[Float]].head()
    val centroids = Similarity.trainIvf(vecs, "vec_id", "embedding",
      cells = 8, iters = 3, trainFraction = 0.5)
    val engine = Similarity.ivfTopKTrained(vecs, "vec_id", "embedding", q, 10,
        centroids, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val seqVecs = vecs.as[(Long, Seq[Float])].collect().toSeq
    val twin = graft.oracle.SeqOracle.ivfTrainedTopK(seqVecs, q, k = 10,
      cells = 8, iters = 3, trainFraction = 0.5, nProbe = 4)
    assert(engine == twin, s"engine $engine vs twin $twin")
  }

  test("embedding near-dup: engine equals the independent sequential twin at driver params") {
    // the driver's q_embedding_neardup protocol (planes=8, minCosine=0.999,
    // one band, vec_id<100 + exact dups) — the seq twin re-derives
    // bucketing and the cosine from scratch, keeping the kernel
    // independently verified now that the driver oracle re-derives the
    // search from the exported plane matrix
    val vecs = embs.select(col("vec_id"), col("embedding")).where(col("vec_id") < 100)
    val dups = vecs.unionByName(
      vecs.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val engine = Dedup.embeddingNearDup(dups, "vec_id", "embedding",
        planes = 8, minCosine = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSeq.sortBy(p => (p._1, p._2))
    val seqVecs = dups.as[(Long, Seq[Float])].collect().toSeq
    val twin = graft.oracle.SeqOracle.embeddingNearDup(seqVecs,
        planes = 8, minCosine = 0.999)
      .sortBy(p => (p._1, p._2))
    assert(engine == twin, s"engine ${engine.take(5)}... vs twin ${twin.take(5)}...")
  }

  test("embedding near-dup: a null vector drops the row, not the job") {
    val vecs = embs.select(col("vec_id"), col("embedding")).where(col("vec_id") < 20)
    val withNull = vecs
      .unionByName(vecs.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
      .unionByName(spark.range(1).select(lit(999999L).as("vec_id"),
        lit(null).cast("array<float>").as("embedding")))
    // the null row must be filtered BEFORE the sign-bucket kernel (which
    // would NPE) — the 20 exact-dup pairs still come back
    val pairs = Dedup.embeddingNearDup(withNull, "vec_id", "embedding",
        planes = 6, minCosine = 0.999, bands = 3, targetBucketSize = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.count { case (a, b) => b == a + 100000 } == 20)
    assert(!pairs.exists { case (a, b) => a == 999999L || b == 999999L })
  }

  test("cosine kernel is bit-identical to the Column form") {
    val pairs = embs.select(col("vec_id"), col("embedding")).limit(40)
      .crossJoin(embs.select(col("vec_id").as("id2"), col("embedding").as("e2")).limit(40))
      .where(col("vec_id") < col("id2"))
    val both = pairs.select(
        Similarity.cosine(col("embedding"), col("e2")).as("c"),
        Similarity.cosineKernel(col("embedding"), col("e2")).as("k"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // exact, not approx
  }

  test("semdedup: quantizer blocking groups exact dups, min-id canonical, matches seq twin") {
    val vecs = embs.select(col("vec_id"), col("embedding")).where(col("vec_id") < 80)
    val dupVecs = vecs.unionByName(
      vecs.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val out = Dedup.semDedup(dupVecs, "vec_id", "embedding",
        cells = 4, minCosine = 0.999, iters = 2, trainFraction = 1.0)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getBoolean(3)))
    assert(out.length == 160)
    val byId = out.map(t => t._1 -> t).toMap
    (0L until 80L).foreach { id =>
      val (o, d) = (byId(id), byId(id + 100000))
      assert(o._2 == d._2, s"identical vectors of $id assigned different cells")
      assert(o._3 == d._3 && d._3 <= id, s"dup pair of $id not in one component")
      assert(!d._4, s"duplicate ${id + 100000} marked canonical")
    }
    out.groupBy(_._3).foreach { case (comp, ms) =>
      assert(ms.count(_._4) == 1, s"component $comp has ${ms.count(_._4)} canonicals")
      assert(ms.map(_._1).min == comp)
    }
    // engine == sequential oracle twin on the same vectors (the fixture protocol)
    val seqIn = dupVecs.as[(Long, Seq[Float])].collect().toSeq
    val expected = graft.oracle.SeqOracle.semDedup(
      seqIn, cells = 4, minCosine = 0.999, iters = 2, trainFraction = 1.0)
    assert(out.sortBy(_._1).toSeq == expected)
  }

  test("repetition kernel: per-row twin equals the relational op exactly") {
    val batch = TextAnalysis.repetitionSignals(docs, "doc_id", "text",
        topNs = Seq(2), dupNs = Seq(10))
      .select("doc_id", "dup_line_frac", "top2_gram_frac", "dup10_gram_frac")
      .collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getDouble(2), r.getDouble(3))))
      .toMap
    docs.select("doc_id", "text").collect().foreach { r =>
      val s = TextAnalysis.repetitionSignalsFast(r.getString(1), Seq(2), Seq(10))
      val b = batch(r.getLong(0))
      assert(s == Seq(b._1, b._2, b._3), s"doc ${r.getLong(0)}: $s vs $b")
    }
  }

  test("upsample: per-stratum repeat factors, copy ids, deterministic") {
    val out = Sampling.upsampleRepeat(docs, "lang", "doc_id",
        Map("en" -> 2.5, "de" -> 1.25), salt = "u")
      .groupBy("doc_id", "lang").agg(count(lit(1)).as("n"),
        max("copy_id").as("mx"), min("copy_id").as("mn"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    val byLang = out.groupBy(_._2)
    byLang("en").foreach { case (_, _, n, mx, mn) =>
      assert((n == 2 || n == 3) && mn == 0 && mx == n - 1) }
    byLang("de").foreach { case (_, _, n, _, _) => assert(n == 1 || n == 2) }
    (byLang.keySet -- Set("en", "de")).foreach { l =>
      byLang(l).foreach { case (_, _, n, _, _) => assert(n == 1) } }
    // the realized multiplier tracks the requested factor
    val enAvg = byLang("en").map(_._3).sum.toDouble / byLang("en").length
    assert(math.abs(enAvg - 2.5) < 0.35, s"en multiplier $enAvg")
    // w = 0 strata vanish
    val none = Sampling.upsampleRepeat(docs, "lang", "doc_id", Map("en" -> 0.0))
    assert(none.where(col("lang") === "en").count() == 0)
  }

  test("splitByHash: exhaustive labeling, requested proportions, join-consistent") {
    val splits = Seq("train" -> 0.8, "valid" -> 0.1, "test" -> 0.1)
    val out = Sampling.splitByHash(docs, "doc_id", splits, salt = "s")
      .select("doc_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(out.length == docs.count())
    val frac = out.groupBy(_._2).view.mapValues(_.length.toDouble / out.length).toMap
    assert(math.abs(frac("train") - 0.8) < 0.06, frac.toString)
    assert(math.abs(frac.getOrElse("valid", 0.0) - 0.1) < 0.04, frac.toString)
    // consistency: a DERIVED table with the same keys splits identically
    val derived = docs.select(col("doc_id"), col("n_chars")).repartition(7)
    val again = Sampling.splitByHash(derived, "doc_id", splits, salt = "s")
      .select("doc_id", "split").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    out.foreach { case (id, s) => assert(again(id) == s) }
  }

  test("semdedup: maxCellSize sub-blocks a collapsed cell, keeps exact-dup recall") {
    // cells = 1 forces the quantizer-collapse failure mode: every vector in
    // one cell, the within-cell join quadratic in the corpus
    val vecs = embs.select(col("vec_id"), col("embedding")).where(col("vec_id") < 200)
    val dupVecs = vecs.unionByName(
      vecs.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val out = Dedup.semDedup(dupVecs, "vec_id", "embedding",
        cells = 1, minCosine = 0.999, iters = 1, maxCellSize = 40)
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getBoolean(3)))
    assert(out.length == 400)
    val byId = out.map(t => t._1 -> t).toMap
    // identical vectors share every sign bucket → sub-blocking cannot split
    // an exact-dup pair
    (0L until 200L).foreach { id =>
      assert(byId(id)._2 == byId(id + 100000)._2, s"dup pair of $id split")
      assert(!byId(id + 100000)._3)
    }
  }

  test("dsir: importance resampling prefers target-like docs, deterministic") {
    val raw = (0L until 60L).map { i =>
      if (i % 2 == 0) (i, "quantum entanglement superposition qubit decoherence photon")
      else (i, "mortgage refinance credit lender escrow amortization")
    }.toDF("doc_id", "text")
    val target = Seq((1000L, "qubit photon entanglement quantum decoherence"),
      (1001L, "superposition quantum photon qubit")).toDF("doc_id", "text")
    val picked = Sampling.dsirResample(raw, target, "doc_id", "text",
        k = 20, hexChars = 2, salt = "t")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(picked.length == 20)
    // physics docs carry strictly higher weights than finance docs; with a
    // 30/30 split and k=20 the Gumbel noise cannot promote a finance doc
    // past the weight gap on this separation
    assert(picked.count(_._1 % 2 == 0) >= 18, s"selected ${picked.map(_._1).toSeq}")
    val byParity = picked.groupBy(_._1 % 2).view.mapValues(_.map(_._2))
    if (byParity.contains(1))
      assert(byParity(0).min > byParity(1).max)
    // pure function of (salt, ids): identical on re-run
    val again = Sampling.dsirResample(raw, target, "doc_id", "text",
        k = 20, hexChars = 2, salt = "t")
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(picked.toSeq == again.toSeq)
  }

  test("pack: concat-then-chunk offsets and pack bounds, empty docs skip packs") {
    val rows = Seq(
      (1L, "a", "one two three four"),            // 4 tokens
      (2L, "a", ""),                              // 0 tokens
      (3L, "a", "five six seven"),                // 3 tokens, crosses pack edge
      (4L, "a", "eight nine"),                    // 2 tokens
      (10L, "b", "uno dos tres cuatro cinco seis")) // independent stream
      .toDF("doc_id", "source", "text")
    val out = Pack.packSequences(rows, "source", "doc_id", "text", seqLen = 5)
      .collect().map(r => (r.getLong(0),
        r.getLong(2), r.getLong(3),
        if (r.isNullAt(4)) -1L else r.getLong(4),
        if (r.isNullAt(5)) -1L else r.getLong(5))).sortBy(_._1)
    assert(out(0) == ((1L, 4L, 0L, 0L, 0L)))   // tokens 0-3 → pack 0
    assert(out(1) == ((2L, 0L, 4L, -1L, -1L))) // empty: offset defined, no pack
    assert(out(2) == ((3L, 3L, 4L, 0L, 1L)))   // tokens 4-6 → spans packs 0-1
    assert(out(3) == ((4L, 2L, 7L, 1L, 1L)))   // tokens 7-8 → pack 1
    assert(out(4) == ((10L, 6L, 0L, 0L, 1L)))  // stream b starts at offset 0
  }

  test("simhash: hamming 0 for exact copies, small for light edits") {
    val pairs = Dedup.simHashPairs(withDups, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val exactPairs = pairs.filter { case (a, b, _) => a < 10000 && b == a + 10000 }
    assert(exactPairs.length == 50)
    assert(exactPairs.forall(_._3 == 0))
  }

  test("simhash: multi-table blocking pair set equals brute-force, any maxDist") {
    // brute-force O(n²) oracle over the compiled kernel — the blocking must
    // be lossless (pigeonhole-complete) for the requested distance
    def brute(rows: Array[(Long, String)], maxDist: Int): Set[(Long, Long, Int)] = {
      val sims = rows.map { case (id, t) => (id, Dedup.simHashFast(t)) }
      (for {
        (ida, sa) <- sims; (idb, sb) <- sims if ida < idb
        h = java.lang.Long.bitCount(sa ^ sb) if h <= maxDist
      } yield (ida, idb, h)).toSet
    }
    val rows = withDups.select("doc_id", "text").as[(Long, String)].collect()
    for (maxDist <- Seq(0, 3, 5)) { // 5 exercises uneven 64/8 block widths
      val got = Dedup.simHashPairs(withDups, "doc_id", "text", maxDist)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == brute(rows, maxDist), s"pair-set mismatch at maxDist=$maxDist")
    }
  }

  test("ngram jaccard: inverted-index pairs match naive computation") {
    val out = Dedup.ngramJaccardPairs(withDups.where(col("doc_id") % 7 === 0),
        "doc_id", "text", n = 3, minJaccard = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // naive oracle on the same subset
    def shingleSet(t: String): Set[String] = {
      val toks = t.toLowerCase.split("[^a-z]+").filter(_.nonEmpty)
      if (toks.length >= 3) toks.sliding(3).map(_.mkString(" ")).toSet
      else Set(toks.mkString(" "))
    }
    val rows = withDups.where(col("doc_id") % 7 === 0)
      .select("doc_id", "text").as[(Long, String)].collect()
    for {
      (ida, ta) <- rows; (idb, tb) <- rows if ida < idb
    } {
      val sa = shingleSet(ta); val sb = shingleSet(tb)
      val j = sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
      if (j >= 0.5)
        assert(math.abs(out((ida, idb)) - j) < 1e-9, s"pair ($ida,$idb)")
      else assert(!out.contains((ida, idb)))
    }
  }

  test("brute-force cosine top-k: agrees with driver-side computation") {
    val q = embs.where(col("vec_id") === 0).select("embedding")
      .as[Seq[Float]].head()
    val got = Similarity.bruteForceTopK(embs, "vec_id", "embedding", q, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val all = embs.select("vec_id", "embedding").as[(Long, Seq[Float])].collect()
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      val na = math.sqrt(a.map(x => x.toDouble * x.toDouble).sum)
      val nb = math.sqrt(b.map(x => x.toDouble * x.toDouble).sum)
      if (na * nb == 0) 0 else dot / (na * nb)
    }
    val exp = all.map { case (id, v) => (id, cos(q, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(10)
    assert(got.map(_._1).toSet == exp.map(_._1).toSet)
    val expMap = exp.toMap
    got.foreach { case (id, s0) => assert(math.abs(s0 - expMap(id)) < 1e-6) }
    // and the result really is sim-descending
    assert(got.map(_._2).toSeq == got.map(_._2).sortBy(-(_: Double)).toSeq)
    assert(got.head._1 == 0L) // self-similarity tops the list
  }

  test("LSH top-k: self always found; results subset of brute-force order") {
    val q = embs.where(col("vec_id") === 7).select("embedding").as[Seq[Float]].head()
    val lsh = Similarity.lshTopK(embs, "vec_id", "embedding", q, 10, planes = 6)
      .collect().map(_.getLong(0))
    assert(lsh.contains(7L))
    val brute = Similarity.bruteForceTopK(embs, "vec_id", "embedding", q, 500)
      .collect().map(_.getLong(0))
    assert(lsh.toSet.subsetOf(brute.toSet))
  }

  test("IVF top-k: probes cells, finds self") {
    val q = embs.where(col("vec_id") === 3).select("embedding").as[Seq[Float]].head()
    val out = Similarity.ivfTopK(embs, "vec_id", "embedding", q, 10,
      cells = 8, nProbe = 8) // all cells probed == exact
    val brute = Similarity.bruteForceTopK(embs, "vec_id", "embedding", q, 10)
    assert(out.collect().map(_.getLong(0)).toSeq ==
      brute.collect().map(_.getLong(0)).toSeq)
  }

  test("trained IVF: Lloyd's objective descends; probe beats hash centroids") {
    // k-means objective is non-increasing across Lloyd iterations
    val objs = Seq(0, 1, 3, 6).map { it =>
      val c = Similarity.trainIvf(embs, "vec_id", "embedding", cells = 8, iters = it)
      Similarity.ivfObjective(embs, "embedding", c)
    }
    objs.sliding(2).foreach { case Seq(a, b) => assert(b <= a + 1e-9, s"objective rose: $objs") }
    // trained quantizer fits the data at least as well as hash-seeded toys
    val hashCentroids = spark.range(8)
      .select(transform(sequence(lit(0), lit(63)),
        j => Similarity.centroidComponent(col("id"), j)).as("c"))
      .collect().map(_.getSeq[Double](0).toIndexedSeq).toIndexedSeq
    val trained = Similarity.trainIvf(embs, "vec_id", "embedding", cells = 8, iters = 6)
    assert(Similarity.ivfObjective(embs, "embedding", trained) <=
      Similarity.ivfObjective(embs, "embedding", hashCentroids))
    // probe: all-cells probe == exact brute force; partial probe finds self
    val q = embs.where(col("vec_id") === 3).select("embedding").as[Seq[Float]].head()
    val all = Similarity.ivfTopKTrained(embs, "vec_id", "embedding", q, 10, trained, nProbe = 8)
    val brute = Similarity.bruteForceTopK(embs, "vec_id", "embedding", q, 10)
    assert(all.collect().map(_.getLong(0)).toSeq ==
      brute.collect().map(_.getLong(0)).toSeq)
    val part = Similarity.ivfTopKTrained(embs, "vec_id", "embedding", q, 10, trained, nProbe = 2)
    assert(part.collect().map(_.getLong(0)).contains(3L))
    // deterministic hash-sample training still yields a full quantizer
    val sampled = Similarity.trainIvf(embs, "vec_id", "embedding", cells = 8,
      iters = 3, trainFraction = 0.5)
    assert(sampled.size == 8 && sampled.forall(_.size == 64))
    // the broadcast kernel assigns EVERY vector to the same cell as the
    // literal Column spec form (the hot path must be bit-identical)
    val both = embs.select(col("vec_id"),
        Similarity.nearestCell(col("embedding"), trained).as("spec"),
        Similarity.nearestCellKernel(spark, trained)(
          col("embedding").cast("array<double>")).as("kernel"))
      .where(col("spec") =!= col("kernel"))
    assert(both.count() == 0)
  }

  test("embedding near-dup: exact duplicate vectors collide and score 1") {
    val dupVecs = embs.where(col("vec_id") < 20)
      .select(col("vec_id"), col("embedding"))
      .unionByName(embs.where(col("vec_id") < 20)
        .select(col("vec_id") + 1000 as "vec_id", col("embedding")))
    val pairs = Dedup.embeddingNearDup(dupVecs, "vec_id", "embedding",
        planes = 8, minCosine = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    (0 until 20).foreach { i =>
      assert(pairs.contains((i.toLong, i + 1000L)), s"missing dup pair $i")
    }
  }

  test("language id + evidence deterministic and in-range") {
    val out = docs.limit(100)
      .select(col("doc_id"), TextAnalysis.langId(col("text")).as("lang"),
        TextAnalysis.qualityScore(col("text")).as("q"),
        TextAnalysis.tokenCount(col("text")).as("toks"),
        TextAnalysis.wordCount(col("text")).as("words"))
      .collect()
    out.foreach { r =>
      assert(Set("en", "de", "fr", "es", "und").contains(r.getString(1)))
      val q = r.getDouble(2); assert(q >= 0.0 && q <= 1.0)
      assert(r.getInt(3) >= r.getInt(4)) // BPE-ish ≥ whitespace count
    }
  }

  // ---- span dedup (Lee et al. single-pass substring dedup) -----------------

  /** Sequential twin of Dedup.spanDedup: same tokenization, first occurrence
    * by (id, pos), single-pass covered-position removal. 0-based internally.
    */
  private def naiveSpanDedup(rows: Seq[(Long, String)], k: Int)
      : Map[Long, (Long, Long, String)] = {
    val toks = rows.map { case (id, t) =>
      id -> t.toLowerCase.split("[^a-z]+").filter(_.nonEmpty).toVector
    }.toMap
    val occ = for {
      (id, _) <- rows; ts = toks(id); if ts.length >= k
      i <- 0 to ts.length - k
    } yield (id, i, ts.slice(i, i + k).mkString(" "))
    val firsts = occ.groupBy(_._3).map { case (g, os) => g -> os.minBy(o => (o._1, o._2)) }
    val removed = occ.filter(o => firsts(o._3) != o)
      .flatMap(o => (o._2 until o._2 + k).map(p => (o._1, p))).toSet
    rows.map { case (id, _) =>
      val ts = toks(id)
      val kept = ts.zipWithIndex.collect { case (t, i) if !removed((id, i)) => t }
      id -> ((ts.length.toLong, (ts.length - kept.length).toLong, kept.mkString(" ")))
    }.toMap
  }

  test("span dedup: hand-computed removals, overlap within and across docs") {
    val df = Seq(
      (1L, "a b c a b"),   // "a b" repeats inside one doc
      (2L, "x a b y"),     // and across docs
      (3L, "q r")          // untouched
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(df, "doc_id", "text", k = 2)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out(1L) == ((5L, 2L, "a b c")))
    assert(out(2L) == ((4L, 2L, "x y")))
    assert(out(3L) == ((2L, 0L, "q r")))
    // self-overlapping run: only the first k tokens' worth survives the chain
    val run = Seq((9L, Seq.fill(12)("a").mkString(" "))).toDF("doc_id", "text")
    val r = Dedup.spanDedup(run, "doc_id", "text", k = 10).collect().head
    assert(r.getLong(2) == 11L && r.getString(3) == "a")
  }

  test("span dedup: distributed result equals the sequential twin on dup corpus") {
    val rows = withDups.select(col("doc_id"), col("text"))
      .as[(Long, String)].collect().toSeq
    val expected = naiveSpanDedup(rows, k = 8)
    val got = Dedup.spanDedup(withDups, "doc_id", "text", k = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, v) => assert(v == expected(id), s"doc $id") }
    // exact copies (id+10000, >= k tokens) must be fully deleted
    got.collect { case (id, (n, rem, text)) if id >= 10000 && id < 20000 && n >= 8 =>
      assert(rem == n && text.isEmpty, s"copy $id not fully removed")
    }
    // a corpus with no repeated 8-gram passes through unchanged
    val uniq = Seq((1L, "one two three four five six seven eight nine"),
                   (2L, "ten eleven twelve thirteen fourteen fifteen sixteen seventeen")).toDF("doc_id", "text")
    Dedup.spanDedup(uniq, "doc_id", "text", k = 8).collect().foreach(r =>
      assert(r.getLong(2) == 0L))
  }

  // ---- stupid-backoff n-gram LM ----------------------------------------------

  /** Sequential twin of NgramLm.scoreStupidBackoff with bit-identical double
    * arithmetic (same op order, JVM IEEE = Spark codegen IEEE). */
  private def naiveLm(trainTexts: Seq[String], docs: Seq[(Long, String)])
      : Map[Long, (Long, Long, Long, Long)] = {
    def tk(t: String) = t.toLowerCase.split("[^a-z]+").filter(_.nonEmpty).toVector
    val c1 = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val c2 = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    val c3 = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    var n = 0L
    trainTexts.foreach { t =>
      val ts = tk(t); n += ts.length
      ts.foreach(w => c1(w) += 1)
      ts.sliding(2).filter(_.length == 2).foreach(g => c2(g.mkString(" ")) += 1)
      ts.sliding(3).filter(_.length == 3).foreach(g => c3(g.mkString(" ")) += 1)
    }
    docs.map { case (id, t) =>
      val ts = tk(t)
      var q = 0L; var tri = 0L; var oov = 0L
      ts.indices.foreach { i =>
        val w = ts(i)
        val s1 = if (c1(w) > 0) c1(w).toDouble / n.toDouble else 1.0 / n.toDouble
        if (c1(w) == 0) oov += 1
        val s =
          if (i >= 2) {
            val g3 = s"${ts(i - 2)} ${ts(i - 1)} $w"; val ctx3 = s"${ts(i - 2)} ${ts(i - 1)}"
            if (c3(g3) > 0) { tri += 1; c3(g3).toDouble / c2(ctx3).toDouble }
            else {
              val g2 = s"${ts(i - 1)} $w"
              if (c2(g2) > 0) c2(g2).toDouble / c1(ts(i - 1)).toDouble else 0.4 * s1
            }
          } else if (i >= 1) {
            val g2 = s"${ts(i - 1)} $w"
            if (c2(g2) > 0) c2(g2).toDouble / c1(ts(i - 1)).toDouble else 0.4 * s1
          } else s1
        q += math.floor(s * 1000000000.0).toLong
      }
      id -> ((ts.length.toLong, tri, oov, q))
    }.toMap
  }

  test("stupid backoff LM: hand-computed quantized scores") {
    val train = Seq("the cat sat on the mat", "the cat ran").toDF("text")
    val counts = NgramLm.train(train, "text")
    val toScore = Seq((1L, "the cat sat"), (2L, "dog the zebra"), (3L, ""))
      .toDF("doc_id", "text")
    val out = NgramLm.scoreStupidBackoff(toScore, "doc_id", "text", counts)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    def q9(s: Double) = math.floor(s * 1000000000.0).toLong
    // "the"=3/9, "cat|the"=2/3, "sat|the cat"=1/2 (trigram hit)
    assert(out(1L) == ((3L, 1L, 0L,
      q9(3.0 / 9.0) + q9(2.0 / 3.0) + q9(1.0 / 2.0))))
    // OOV floor 1/N, then two backoff chains
    val s1the = 3.0 / 9.0
    val exp2 = q9(1.0 / 9.0) + q9(0.4 * s1the) + q9(0.4 * (0.4 * (1.0 / 9.0)))
    assert(out(2L) == ((3L, 0L, 2L, exp2)))
    assert(out(3L) == ((0L, 0L, 0L, 0L))) // empty doc: zeros, not missing
  }

  test("stupid backoff LM: distributed equals the sequential twin exactly") {
    val trainTexts = docs.select("text").as[String].collect().toSeq
    val scoreRows = docs.where(col("doc_id") < 100)
      .select(col("doc_id"), col("text")).as[(Long, String)].collect().toSeq
    val expected = naiveLm(trainTexts, scoreRows)
    val counts = NgramLm.train(docs, "text")
    val got = NgramLm.scoreStupidBackoff(
        docs.where(col("doc_id") < 100), "doc_id", "text", counts)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, v) => assert(v == expected(id), s"doc $id") }
    // in-corpus docs must score better per token than scrambled ones
    val inAvg = got.values.map(v => v._4.toDouble / math.max(v._1, 1)).sum / got.size
    assert(inAvg > 0)
  }

  test("ccnet buckets: distributed == sequential cutoffs, exhaustive and ordered") {
    val d = docs.where(col("doc_id") < 120).select(col("doc_id"), col("text"))
    val scored = NgramLm.scoreStupidBackoff(d, "doc_id", "text",
      NgramLm.train(d, "text"))
    val rows = scored.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(4)))
    val avg = rows.map { case (id, nt, q) =>
      (id, if (nt > 0) q / nt else 0L) }.toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    val samp = avg.toSeq
      .filter { case (id, _) =>
        md5hex(s"r3|$id") < "80000000000000000000000000000000" }
      .sortBy { case (id, a) => (-a, id) }
    val m = samp.length
    assert(m > 10) // the sample must be non-trivial for the test to bite
    def cut(f: Double) = samp(math.ceil(m * f).toInt - 1)._2
    val (tHead, tTail) = (cut(1.0 / 3), cut(2.0 / 3))
    val expected = avg.map { case (id, a) =>
      id -> (if (a >= tHead) "head" else if (a >= tTail) "middle" else "tail") }
    val got = NgramLm.ccnetBuckets(scored, "doc_id", 0.5, "r3").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(got.map(g => g._1 -> g._3).toMap == expected)
    assert(got.map(_._3).toSet.subsetOf(Set("head", "middle", "tail")))
    // every head doc scores at least as high per token as every tail doc
    val headMin = got.collect { case (_, a, "head") => a }.min
    val tailMax = got.collect { case (_, a, "tail") => a }.max
    assert(headMin > tailMax)
  }

  test("temperature sample: exact sequential twin, flattening moves mass to rare strata") {
    val d = docs.select(col("doc_id"), col("source"), col("text"))
    val rows = d.select("doc_id", "source").as[(Long, String)].collect()
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    def expectedKept(tau: Double, frac: Double): Set[Long] = {
      val byS = rows.groupBy(_._2).view.mapValues(_.length.toLong).toMap
      val wq = byS.map { case (s, n) =>
        s -> math.floor(StrictMath.pow(n.toDouble, tau) * (1L << 20)).toLong }
      val nT = byS.values.sum; val wT = wq.values.sum
      val th = byS.map { case (s, n) =>
        val f = math.min(1.0,
          frac * ((nT.toDouble * wq(s).toDouble) / (wT.toDouble * n.toDouble)))
        s -> math.floor(f * 1152921504606846976.0).toLong }
      rows.collect { case (id, s)
        if java.lang.Long.parseLong(md5hex(s"t|$id").substring(0, 15), 16) < th(s) => id
      }.toSet
    }
    for (tau <- Seq(0.0, 0.5, 1.0)) {
      val kept = Sampling.temperatureSample(d, "source", "doc_id", tau, 0.4, "t")
        .select("doc_id").as[Long].collect().toSet
      assert(kept == expectedKept(tau, 0.4), s"tau=$tau")
    }
    // flattening: as tau drops, the kept share of the rarest stratum rises
    val sizes = rows.groupBy(_._2).view.mapValues(_.length).toMap
    val rare = sizes.minBy(_._2)._1
    def rareShare(tau: Double): Double = {
      val kept = Sampling.temperatureSample(d, "source", "doc_id", tau, 0.4, "t")
        .select("source").as[String].collect()
      kept.count(_ == rare).toDouble / math.max(kept.length, 1)
    }
    assert(rareShare(0.0) >= rareShare(1.0), s"${rareShare(0.0)} < ${rareShare(1.0)}")
  }

  // ---- fastText-style linear classifier ---------------------------------------

  test("linear classifier: partitioning-independent, == sequential twin, learns markers") {
    import QualityClassifier._
    // constructed separable task: half the docs carry positive marker words
    val d = docs.where(col("doc_id") < 300)
      .select(col("doc_id"),
        when(col("doc_id") % 2 === 0,
            concat(col("text"), lit(" curated wellformed prose paragraph")))
          .otherwise(concat(col("text"), lit(" boilerplate spam garbled listing")))
          .as("text"),
        when(col("doc_id") % 2 === 0, 1.0).otherwise(0.0).as("label"))
    val dim = 1 << 14
    val iters = 30
    val m1 = train(d.repartition(1), "text", "label", dim, iters = iters, lr = 50.0)
    val m16 = train(d.repartition(16), "text", "label", dim, iters = iters, lr = 50.0)
    // quantized-long gradient sums: bit-identical weights at any partitioning
    assert(java.util.Arrays.equals(m1.weights, m16.weights))
    // sequential twin: same kernels, plain loop instead of treeAggregate
    val rows = d.select("text", "label").as[(String, Double)].collect()
    val w = new Array[Double](dim + 1)
    var losses = List.empty[Double]
    (0 until iters).foreach { t =>
      val acc = new Array[Long](dim + 2)
      rows.foreach { case (txt, y) => accumulate(acc, w, dim, bigrams = true, txt, y) }
      losses ::= applyUpdate(w, acc, rows.length.toLong,
        50.0 * (1.0 - t.toDouble / iters.toDouble))
    }
    assert(java.util.Arrays.equals(m1.weights, w))
    // the loss descends overall and the model separates the classes
    assert(losses.head < losses.last / 2,
      s"final ${losses.head} vs initial ${losses.last}")
    val preds = rows.map { case (txt, y) => (predict(m1, txt), y) }
    val acc = preds.count { case (p, y) => (p >= 0.5) == (y == 1.0) }.toDouble / preds.length
    assert(acc > 0.95, s"train accuracy $acc")
    // and the distributed scorer agrees with the kernel
    val scored = score(d, "doc_id", "text", m1)
      .as[(Long, Double)].collect().toMap
    val byId = d.select("doc_id", "text").as[(Long, String)].collect()
    byId.foreach { case (id, txt) => assert(scored(id) == predict(m1, txt)) }
  }

  // ---- benchmark decontamination --------------------------------------------

  test("contamination: shared k-grams flagged, sub-k docs clean, counts exact") {
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "a completely different sentence with no overlap at all"),
      (3L, "short one"),                             // < k tokens: clean
      (4L, "quick brown fox and then quick brown fox again") // 2 distinct hits? see below
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "watch the quick brown fox run"),       // shares "quick brown fox"
      (101L, "irrelevant benchmark prompt")
    ).toDF("bid", "btext")
    val out = Dedup.contamination(train, "doc_id", "text", bench, "btext", k = 3)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3)))).toMap
    assert(out(1L) == ((7L, 2L, true)))  // "the quick brown" + "quick brown fox"
    assert(out(2L) == ((7L, 0L, false)))
    assert(out(3L) == ((0L, 0L, false)))
    // doc 4: distinct grams counted once even when repeated in the doc
    assert(out(4L)._2 == 1L && out(4L)._3)
  }

  test("contamination: sequential twin over the dup corpus") {
    val bench = docs.where(col("doc_id") % 7 === 0).select(col("text"))
    val k = 13
    def grams(t: String): Set[String] = {
      val toks = t.toLowerCase.split("[^a-z]+").filter(_.nonEmpty)
      if (toks.length < k) Set.empty
      else toks.sliding(k).map(_.mkString(" ")).toSet
    }
    val benchSet = bench.as[String].collect().flatMap(grams).toSet
    val expected = docs.select(col("doc_id"), col("text")).as[(Long, String)]
      .collect().map { case (id, t) =>
        val g = grams(t)
        id -> ((g.size.toLong max (0L), g.count(benchSet).toLong))
      }.toMap
    val got = Dedup.contamination(docs, "doc_id", "text", bench, "text", k)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getBoolean(3)))).toMap
    assert(got.keySet == expected.keySet)
    got.foreach { case (id, (hits, flag)) =>
      assert(hits == expected(id)._2, s"doc $id")
      assert(flag == (hits > 0))
    }
    // the bench docs themselves must all be flagged (they share all grams)
    expected.foreach { case (id, (n, _)) =>
      if (id % 7 == 0 && n > 0) assert(got(id)._1 > 0, s"bench doc $id unflagged")
    }
  }

  // ---- deterministic sampling ------------------------------------------------

  private def md5hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5")
    d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
  }

  test("stratified quota: exact quota, deterministic, matches driver-side ranking") {
    val df = docs.select(col("doc_id"), (col("doc_id") % 5).as("stratum"))
    val out = Sampling.stratifiedQuota(df, "stratum", "doc_id", quota = 10, salt = "s1")
    val rows = out.select("stratum", "doc_id", "sample_rank")
      .as[(Long, Long, Int)].collect()
    // exact quota per stratum (every stratum has >= 10 members at sf0.001)
    rows.groupBy(_._1).foreach { case (s, g) => assert(g.length == 10, s"stratum $s") }
    // membership equals the top-10 by md5("s1|" + id) computed sequentially
    val all = df.as[(Long, Long)].collect()
    val expect = all.groupBy(_._2).toSeq.flatMap { case (s, g) =>
      g.map(_._1).sortBy(id => (md5hex(s"s1|$id"), id.toString)).take(10).map(s -> _)
    }.toSet
    assert(rows.map(r => (r._1, r._2)).toSet == expect)
    // repartitioning the input does not change the sample
    val out2 = Sampling.stratifiedQuota(df.repartition(7, col("doc_id")),
      "stratum", "doc_id", quota = 10, salt = "s1")
      .select("stratum", "doc_id").as[(Long, Long)].collect().toSet
    assert(out2 == expect)
  }

  test("hash-fraction sample: membership is the md5-threshold set, join-consistent") {
    val out = Sampling.hashFraction(docs.select("doc_id"), "doc_id", 0.2, salt = "s2")
      .as[Long].collect().toSet
    val ids = docs.select("doc_id").as[Long].collect()
    val expect = ids.filter(id => md5hex(s"s2|$id") < "33333333333334000000000000000000").toSet
    assert(out == expect)
    assert(out.nonEmpty && out.size < ids.length)
    // consistent across a different dataset sharing the key space
    val other = docs.select(col("doc_id"), col("source"))
    val out2 = Sampling.hashFraction(other, "doc_id", 0.2, salt = "s2")
      .select("doc_id").as[Long].collect().toSet
    assert(out2 == expect)
    // fraction 1.0 keeps everything
    assert(Sampling.hashFraction(docs, "doc_id", 1.0, "s2").count() == docs.count())
  }

  // ---- repetition signals (Gopher-family filters) ---------------------------

  test("repetition signals: hand-computed line and n-gram fractions") {
    val df = Seq(
      (1L, "foo bar\nfoo bar\nbaz"),
      (2L, "tiny"),                    // fewer tokens than every n: all zeros
      (3L, "spam spam spam spam spam") // one token repeated
    ).toDF("doc_id", "text")
    val out = TextAnalysis.repetitionSignals(df, "doc_id", "text",
        topNs = Seq(2), dupNs = Seq(2))
      .collect().map(r => r.getLong(0) -> r).toMap
    val r1 = out(1L)
    assert(r1.getAs[Long]("dup_line_chars") == 7L)      // one repeated 7-char line
    assert(r1.getAs[Long]("line_chars") == 17L)
    assert(math.abs(r1.getAs[Double]("dup_line_frac") - 7.0 / 17.0) < 1e-12)
    assert(r1.getAs[Long]("top2_gram_chars") == 14L)    // "foo bar" ×2 ×len 7
    assert(r1.getAs[Long]("dup2_gram_chars") == 7L)     // (2-1)×7
    assert(math.abs(r1.getAs[Double]("top2_gram_frac") - 14.0 / 19.0) < 1e-12)
    val r2 = out(2L)
    assert(r2.getAs[Long]("top2_gram_chars") == 0L && r2.getAs[Long]("dup2_gram_chars") == 0L)
    assert(r2.getAs[Long]("dup_line_chars") == 0L)
    val r3 = out(3L) // grams "spam spam" ×4 → top = 4×9 = 36, dup = 3×9 = 27
    assert(r3.getAs[Long]("top2_gram_chars") == 36L)
    assert(r3.getAs[Long]("dup2_gram_chars") == 27L)
  }

  test("repetition signals: distributed result equals the sequential twin") {
    val topNs = Seq(2, 3); val dupNs = Seq(5, 10)
    val rows = withDups.select(col("doc_id"), col("text")).as[(Long, String)].collect()
    def spaceTrim(s: String) = s.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    val expected = rows.map { case (id, text) =>
      val lines = text.split("\n", -1).map(spaceTrim).filter(_.nonEmpty)
      val lineChars = lines.map(_.length.toLong).sum
      val dupLineChars = lineChars - lines.distinct.map(_.length.toLong).sum
      val toks = text.toLowerCase.split("[^a-z]+").filter(_.nonEmpty)
      def counts(n: Int): Map[String, Long] =
        if (toks.length < n) Map.empty
        else toks.sliding(n).map(_.mkString(" ")).toSeq.groupBy(identity)
          .map { case (g, o) => g -> o.size.toLong }
      val tops = topNs.map(n => counts(n).map { case (g, c) => c * g.length }
        .foldLeft(0L)(math.max))
      val dups = dupNs.map(n => counts(n).collect { case (g, c) if c > 1 => (c - 1) * g.length }.sum)
      id -> ((lineChars, dupLineChars, tops, dups))
    }.toMap
    val got = TextAnalysis.repetitionSignals(withDups, "doc_id", "text", topNs, dupNs)
    got.collect().foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (lc, dlc, tops, dups) = expected(id)
      assert(r.getAs[Long]("line_chars") == lc, s"doc $id line_chars")
      assert(r.getAs[Long]("dup_line_chars") == dlc, s"doc $id dup_line_chars")
      topNs.zip(tops).foreach { case (n, v) =>
        assert(r.getAs[Long](s"top${n}_gram_chars") == v, s"doc $id top$n") }
      dupNs.zip(dups).foreach { case (n, v) =>
        assert(r.getAs[Long](s"dup${n}_gram_chars") == v, s"doc $id dup$n") }
    }
  }

  test("fingerprint: stable under whitespace, changed by content edits") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "alpha  beta\tgamma   delta epsilon"), // whitespace-only diff
      (3L, "alpha beta gamma delta zeta")          // content diff
    ).toDF("id", "text")
    val fps = df.select(col("id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(fps(1L) == fps(2L))
    assert(fps(1L) != fps(3L))
  }

  test("bm25: matching docs score > 0, ranking favors term-dense docs") {
    val scored = Bm25.score(docs.limit(200), "doc_id", "text", Seq("spark", "window"))
    val rows = scored.collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.nonEmpty)
    assert(rows.forall(_._2 > 0.0))
    // every scored doc actually contains a query term
    val ids = rows.map(_._1).toSet
    val texts = docs.limit(200).select("doc_id", "text").as[(Long, String)].collect().toMap
    ids.foreach { id =>
      val t = texts(id).toLowerCase
      assert(t.contains("spark") || t.contains("window"))
    }
  }

  test("adaptive stats: coverage/consistency/saturation/confidence bounds") {
    val cov = Adaptive.coverage(docs.limit(100), "doc_id", "text", Seq("spark", "data"))
    assert(cov > 0.0 && cov <= 1.0)
    val cons = Adaptive.consistency(docs.limit(20), "doc_id", "text")
    assert(cons > 0.0 && cons <= 1.0)
    assert(Adaptive.saturation(Seq(100L, 50L, 10L)) == 0.9)
    assert(Adaptive.saturation(Seq(10L, 20L)) == 0.0) // rate grew → not saturated
    val conf = Adaptive.confidence(cov, cons, 0.5)
    assert(conf > 0.0 && conf <= 1.0)
  }

  test("regex extraction catalog") {
    val df = Seq(
      (1L, "mail a@b.com and web https://x.io/page visited 2024-01-15 at 13:45"),
      (2L, "pay $5.00 or 12.5% via 4111111111111111, ping 10.0.0.1")
    ).toDF("id", "text")
    val out = RegexExtract.extract(df, "id", "text",
        Seq("email", "url", "date_iso", "time_24h", "currency", "percentage", "ipv4", "credit_card"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def has(id: Long, label: String, v: String) =
      assert(out.contains((id, label, v)), s"missing ($id,$label,$v) in ${out.toSeq}")
    has(1L, "email", "a@b.com")
    has(1L, "url", "https://x.io/page")
    has(1L, "date_iso", "2024-01-15")
    has(1L, "time_24h", "13:45")
    has(2L, "currency", "$5.00")
    has(2L, "percentage", "12.5%")
    has(2L, "ipv4", "10.0.0.1")
    has(2L, "credit_card", "4111111111111111")
  }

  test("multimodal: decode plumbing, frame sampling, resize, content dedup") {
    val blobs = Seq(
      Multimodal.syntheticBlob("d1", "http://x.com/a.jpg", "image"),
      Multimodal.syntheticBlob("d1", "http://x.com/v.mp4", "video"),
      Multimodal.syntheticBlob("d2", "http://x.com/a.jpg", "image"), // same content
      Multimodal.syntheticBlob("d2", "http://x.com/s.ogg", "audio")
    ).toDS()
    val feats = Multimodal.decode(blobs).cache()
    val rows = feats.collect()
    assert(rows.length == 4)
    rows.foreach { f =>
      assert(f.width >= 16 && f.height >= 16)
      assert(f.feature.length == 16)
      if (f.kind == "image") { assert(f.duration_ms == 0 && f.n_frames == 1) }
      if (f.kind == "video") assert(f.n_frames > 0)
    }
    // determinism: same ref → same features
    val imgs = rows.filter(_.media_ref.endsWith("a.jpg"))
    assert(imgs.map(_.content_hash).distinct.length == 1)

    val frames = Multimodal.sampleFrames(feats.toDF(), everyMs = 1000)
    val v = rows.find(_.kind == "video").get
    // tick schedule identical to extractFrames: max(1, ceil(duration/every))
    assert(frames.count() == math.max(1L, (v.duration_ms + 999L) / 1000L))

    val resized = Multimodal.resizePlan(feats.toDF(), maxSide = 256).collect()
    resized.foreach { r =>
      val ow = r.getAs[Int]("out_width"); val oh = r.getAs[Int]("out_height")
      assert(ow <= 256 && oh <= 256 && ow >= 1 && oh >= 1)
    }

    val dedup = Multimodal.dedupByContent(blobs.toDF())
    assert(dedup.count() == 3)
    assert(dedup.where(col("n_copies") === 2).count() == 1)
  }

  test("multimodal: REAL JDK codecs — PNG dims/features, WAV duration, resize") {
    // real PNG: exact dimensions + content-based 4x4 gray-pool feature
    val png = Multimodal.syntheticPngBlob("d1", "img://one", 320, 200)
    val png2 = Multimodal.syntheticPngBlob("d2", "img://one", 320, 200) // same pixels
    val pngOther = Multimodal.syntheticPngBlob("d3", "img://two", 320, 200)
    val wav = Multimodal.syntheticWavBlob("d4", "snd://one", ms = 1500)
    val flac = Multimodal.syntheticFlacBlob("d6", "snd://flac", 6)
    val feats = Multimodal.decode(Seq(png, png2, pngOther, wav, flac).toDS())
      .collect().map(f => f.media_ref -> f).toMap
    val f1 = feats("img://one")
    assert(f1.width == 320 && f1.height == 200 && f1.n_frames == 1)
    assert(f1.feature.length == 16 && f1.feature.forall(v => v >= 0f && v <= 1f))
    assert(f1.feature.distinct.length > 1) // real content, not constant
    // same pixels → identical features regardless of doc
    assert(feats.values.find(f => f.doc_id == "d2").get.feature.sameElements(f1.feature))
    // different pixels → different features
    assert(!feats("img://two").feature.sameElements(f1.feature))
    // real WAV: exact duration from the frame count, energetic RMS profile
    val fa = feats("snd://one")
    assert(fa.duration_ms == 1500)
    assert(fa.feature.forall(_ > 0.1f)) // a sine has uniform RMS everywhere
    // real FLAC through the same audio feature path (sources/Flac decode):
    // id=6 → 806 samples at 8 kHz → 100 ms; the ramp PCM is never silent
    val ff = feats("snd://flac")
    assert(ff.duration_ms == 100, s"flac duration ${ff.duration_ms}")
    assert(ff.feature.exists(_ > 0.05f))
    // real resize: aspect preserved, decodable output
    val Some((rBytes, rw, rh)) = Multimodal.resizeImage(png.bytes, maxSide = 64)
    assert(rw == 64 && rh == 40)
    val rImg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(rBytes))
    assert(rImg.getWidth == 64 && rImg.getHeight == 40)
    // corrupt payload: falls back to the deterministic stub, never throws
    val junk = Multimodal.syntheticBlob("d5", "junk://x", "image")
    val (real, stub) = (Multimodal.decodeReal(junk), Multimodal.decodeStub(junk))
    assert((real.width, real.height, real.duration_ms, real.n_frames) ==
      (stub.width, stub.height, stub.duration_ms, stub.n_frames) &&
      real.feature.sameElements(stub.feature))
  }

  test("c4 line cleaning: terminal punctuation, min words, js/lorem/brace drops") {
    val docs = Seq(
      (1L, "This is a good clean sentence here.\nAnother proper line with punctuation!\nAnd a third full sentence right here?"),
      (2L, "short line.\nno terminal punctuation on this line\nok."),
      (3L, "This line enables javascript in your browser.\nA fine sentence with enough words here.\nMore fine sentences with enough words here.\nAnd one more to clear the bar today."),
      (4L, "Lorem ipsum dolor sit amet consectetur adipiscing elit.\nA fine sentence with enough words here.\nMore fine sentences with enough words here.\nAnd one more to clear the bar today."),
      (5L, "A fine sentence with enough words here.\nvar x = { a: 1 };\nMore fine sentences with enough words here.\nAnd one more to clear the bar today."),
      // CRLF line endings and tab word separators — real web text — must not
      // mass-fail the terminal-punctuation or word-count rules
      (6L, "This is a good clean sentence here.\r\nAnother\tproper\tline\twith\tpunctuation!\r\nAnd a third full sentence right here?"))
    val out = TextAnalysis.c4Clean(docs.toDF("doc_id", "text"), "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getBoolean(3), r.getString(4)))).toMap
    // 1: all three lines survive
    assert(out(1L) == ((3, 3, false,
      "This is a good clean sentence here.\nAnother proper line with punctuation!\nAnd a third full sentence right here?")))
    // 2: every line fails (words < 5 / no terminal punct) → dropped
    assert(out(2L)._2 == 0 && out(2L)._3)
    // 3: the javascript line is removed, the other three survive → kept
    assert(out(3L) == ((4, 3, false,
      "A fine sentence with enough words here.\nMore fine sentences with enough words here.\nAnd one more to clear the bar today.")))
    // 4: lorem ipsum → whole doc dropped despite enough clean lines
    assert(out(4L)._3 && out(4L)._4 == "")
    // 5: curly brace → whole doc dropped (code page)
    assert(out(5L)._3 && out(5L)._4 == "")
    // 6: CRLF endings stripped by the split, tabs count as word separators
    assert(out(6L)._1 == 3 && out(6L)._2 == 3 && !out(6L)._3)
  }

  test("blocklist: per-token word-boundary membership, not substring scan") {
    val docs = Seq(
      (1L, "the grass is green near the classroom"), // substrings only → clean
      (2L, "an ass walked into the field"),          // exact token → blocked
      (3L, "BADWORD shouts in caps"),                // case-folds → blocked
      (4L, "perfectly ordinary prose here"))
    val out = TextAnalysis.blocklistHit(col("text"), Seq("ass", "badword"))
    val flags = docs.toDF("doc_id", "text").select(col("doc_id"), out.as("b"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flags == Map(1L -> false, 2L -> true, 3L -> true, 4L -> false))
    // empty blocklist flags nothing
    assert(docs.toDF("doc_id", "text")
      .where(TextAnalysis.blocklistHit(col("text"), Nil)).count() == 0)
  }

  test("pagerank: quantized long ranks — partitioning-invariant and oracle-exact") {
    import graft.ops.PageRank
    // hub (everyone links 0), two deterministic rings, dangling nodes (i%5==0
    // emit nothing — including the hub itself, so both corrections are live)
    val edges = (0L until 60L).flatMap { i =>
      if (i % 5 == 0) Seq.empty
      else Seq((i, (i * 7 + 1) % 60), (i, (i * 13 + 3) % 60), (i, 0L))
    }
    def run(parts: Int) =
      PageRank.ranks(edges.toDF("src", "dst").repartition(parts), iters = 5)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    val r1 = run(1)
    assert(r1 == run(16)) // bit-exact under any partitioning (pure long sums)
    assert(r1 == graft.oracle.SeqOracle.pageRank(edges, iters = 5)) // bit-exact vs seq twin
    val m = r1.toMap
    // the hub out-ranks every other node; ranks are positive and distinct
    assert(m(0L) == r1.map(_._2).max)
    assert(r1.forall(_._2 > 0L) && r1.map(_._2).distinct.length > 1)
    // dangling + teleport: a no-in-edge node still holds teleport-level mass
    val unlinked = r1.filter { case (id, _) => !edges.exists(_._2 == id) }
    assert(unlinked.forall(_._2 >= (1L << 32) - PageRank.damp(1L << 32)))
  }

  test("multimodal: REAL video decode — animated GIF + MJPEG-AVI containers") {
    // animated GIF: true dims, frame count, and per-frame-delay duration
    val gif = Multimodal.syntheticGifVideoBlob("d1", "vid://g", w = 24, h = 18,
      nFrames = 4, frameMs = 50)
    val avi = Multimodal.syntheticAviVideoBlob("d2", "vid://a", w = 32, h = 20,
      nFrames = 3, frameMs = 40)
    val junk = Multimodal.syntheticBlob("d3", "vid://junk.mp4", "video")
    val feats = Multimodal.decode(Seq(gif, avi, junk).toDS())
      .collect().map(f => f.media_ref -> f).toMap
    val fg = feats("vid://g")
    assert((fg.width, fg.height, fg.n_frames, fg.duration_ms) == (24, 18, 4, 200))
    assert(fg.feature.length == 16 && fg.feature.exists(_ > 0f))
    val fa = feats("vid://a")
    assert((fa.width, fa.height, fa.n_frames, fa.duration_ms) == (32, 20, 3, 120))
    // an undecodable codec still flows through via the deterministic stub
    val stub = Multimodal.decodeStub(junk)
    assert((feats("vid://junk.mp4").width, feats("vid://junk.mp4").n_frames) ==
      (stub.width, stub.n_frames))
    // per-frame access decodes REAL distinct frames in both containers
    val g0 = Multimodal.videoFrame(gif.bytes, 0).get
    val g3 = Multimodal.videoFrame(gif.bytes, 3).get
    assert(g0.getWidth == 24 && g0.getHeight == 18)
    assert((0 until 18).exists(y => (0 until 24).exists(x =>
      g0.getRGB(x, y) != g3.getRGB(x, y))))
    val a2 = Multimodal.videoFrame(avi.bytes, 2).get
    assert(a2.getWidth == 32 && a2.getHeight == 20)
    // real frame sampling: one frame per everyMs tick of the TRUE duration,
    // schedule positions exact, PNG payloads decodable at container dims
    val frames = Multimodal.extractFrames(Seq(gif, avi, junk).toDS(), everyMs = 80)
      .collect().sortBy(f => (f.doc_id, f.ts_ms))
    val gifTicks = frames.filter(_.container == "gif")
    // gif: duration 200ms, ticks at 0/80/160 → frames 0,1,3 (50ms schedule)
    assert(gifTicks.map(f => (f.ts_ms, f.frame_no)).toSeq ==
      Seq((0, 0), (80, 1), (160, 3)))
    val aviTicks = frames.filter(_.container == "avi")
    // avi: duration 120ms, ticks at 0/80 → frames 0,2 (40ms schedule)
    assert(aviTicks.map(f => (f.ts_ms, f.frame_no)).toSeq == Seq((0, 0), (80, 2)))
    assert(frames.forall(_.doc_id != "d3")) // undecodable: no frames emitted
    frames.foreach { f =>
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(f.png))
      assert(img.getWidth == f.width && img.getHeight == f.height)
    }
  }

  test("multimodal: cross-container video near-dup through decode features") {
    // the SAME content rendered as GIF and as MJPEG-AVI: palette vs JPEG
    // quantization perturb the pixels slightly, so only the decode→feature→
    // embeddingNearDup chain (not a byte hash) can pair them
    import graft.ops.{Dedup => D}
    val blobs = Seq(
      Multimodal.syntheticGifVideoBlob("1", "vid://x", 32, 24, nFrames = 3, frameMs = 50),
      Multimodal.syntheticAviVideoBlob("2", "vid://x", 32, 24, nFrames = 3, frameMs = 50),
      Multimodal.syntheticGifVideoBlob("3", "vid://other", 32, 24, nFrames = 3, frameMs = 50))
    val collected = Multimodal.decode(blobs.toDS()).collect()
      .map(f => f.doc_id -> f.feature.map(_.toDouble)).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum))
    }
    val same = cos(collected("1"), collected("2"))
    val diff = math.max(cos(collected("1"), collected("3")),
      cos(collected("2"), collected("3")))
    // hash-pixel videos pool toward uniform gray, so ALL pairs are cosine-
    // close — but the same content through two lossy codecs must still be
    // measurably closer than different content
    assert(same > diff, s"same=$same diff=$diff")
    // with the threshold between the two, the distributed chain finds
    // exactly the cross-container duplicate
    val feats = Multimodal.decode(blobs.toDS()).toDF()
      .select(col("doc_id").cast("long").as("doc_id"), col("feature"))
    val pairs = D.embeddingNearDup(feats, "doc_id", "feature",
        planes = 2, minCosine = (same + diff) / 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L)), s"same=$same diff=$diff pairs=$pairs")
  }

  test("markdown: html2text emission + per-URL citation dedup") {
    val html = """<h1>Doc</h1><p>See <a href="http://x.com/docs">docs</a> and """ +
      """<a href="http://x.com/docs">docs again</a> and <a href="http://ext.com">ext</a>.</p>""" +
      """<img src="http://x.com/p.jpg" alt="a pic"><script>skip()</script>""" +
      """<div style="display:none">SECRET</div>"""
    val md = graft.scrape.Markdown.fromHtml(html, "http://x.com/")
    assert(md.raw_markdown.startsWith("# Doc\n"))
    assert(md.raw_markdown.contains("[docs](http://x.com/docs)"))
    assert(md.raw_markdown.contains("![a pic](http://x.com/p.jpg)"))
    assert(!md.raw_markdown.contains("SECRET") && !md.raw_markdown.contains("skip()"))
    // per-URL dedup: the SAME href cited twice gets ONE number; the inline
    // [text](url) markers are fully rewritten in place (exact equality)
    assert(md.markdown_with_citations ==
      "# Doc\nSee docs⟨1⟩ and docs again⟨1⟩ and ext⟨2⟩.\n![a pic⟨3⟩]\n")
    // references: each URL exactly once, sorted by number, desc annotated
    assert(md.references_markdown ==
      "\n\n## References\n\n⟨1⟩ http://x.com/docs: docs\n⟨2⟩ http://ext.com: ext\n" +
      "⟨3⟩ http://x.com/p.jpg: a pic\n")
  }

  test("fit_markdown: markdown of the pruned content, boilerplate gone") {
    val boiler = "short nav link words " * 1
    val html = "<html><body>" +
      "<nav><a href='/a'>" + boiler + "</a></nav>" +
      "<div><p>" + ("substantial real article content with many words here " * 8) + "</p></div>" +
      "<footer>tiny</footer></body></html>"
    val fit = graft.scrape.Markdown.fromHtmlFit(html, "http://x.com/")
    // fit_markdown is exactly the converter over fit_html
    assert(fit.fit_markdown ==
      graft.scrape.Html2Md.convert(fit.fit_html, "http://x.com/"))
    assert(fit.fit_markdown.contains("substantial real article content"))
    assert(!fit.fit_markdown.contains("tiny"))
    // raw/citation surfaces identical to fromHtml
    val base = graft.scrape.Markdown.fromHtml(html, "http://x.com/")
    assert(fit.raw_markdown == base.raw_markdown &&
      fit.markdown_with_citations == base.markdown_with_citations)
  }

  test("corpus-trained embeddings: co-occurrence PPMI + projection separate topics") {
    import graft.ops.{CorpusEmbed, Embed, Embedder}
    // two-topic corpus with deterministic sentence recombinations
    val aWords = Vector("spark", "shuffle", "executor", "partition", "stage", "task")
    val bWords = Vector("pasta", "tomato", "basil", "garlic", "oven", "sauce")
    val docs = (0 until 40).map { i =>
      val w = if (i % 2 == 0) aWords else bWords
      val s = (0 until 12).map(k => w((i * 7 + k * 3) % w.length)).mkString(" ")
      (i.toLong, s)
    }
    val df = docs.toDF("doc_id", "text")
    // exact-count surface: engine pairs equal a brute-force sequential count
    val seqPairs = docs.flatMap { case (_, text) =>
      val t = Embed.tokens(text)
      for (i <- t.indices; k <- 1 to 3 if i + k < t.length) yield (t(i), t(i + k))
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val enginePairs = CorpusEmbed.cooccurrence(df, "text", window = 3)
      .as[(String, String, Long)].collect()
      .map { case (a, b, n) => ((a, b), n) }.toMap
    assert(enginePairs == seqPairs)

    val emb = CorpusEmbed.train(df, "text",
      dim = 32, window = 3, vocabSize = 64, minCount = 1)
    // term geometry: same-topic terms closer than cross-topic
    def tv(t: String) = emb.vectors(t)
    assert(Embed.cosine(tv("spark"), tv("shuffle")) >
      Embed.cosine(tv("spark"), tv("tomato")))
    assert(Embed.cosine(tv("pasta"), tv("basil")) >
      Embed.cosine(tv("pasta"), tv("executor")))
    // document geometry through the Embedder seam
    val a1 = emb.embed("spark executor tuning")
    val a2 = emb.embed("shuffle partition stage work")
    val b1 = emb.embed("pasta tomato basil dish")
    assert(Embed.cosine(a1, a2) > Embed.cosine(a1, b1))
    // out-of-vocabulary text falls back to the configured kernel
    assert(emb.embed("zzz qqq www").toSeq == Embedder.default.embed("zzz qqq www").toSeq)
    // and the trained kernel drops into CosineExtract like any Embedder
    val clusters = graft.scrape.CosineExtract.extract(
      docs.take(8).map(_._2),
      graft.scrape.CosineExtract.Config(wordCountThreshold = 1, maxDist = 0.5,
        embedder = emb))
    assert(clusters.length >= 2)
  }

  test("corpus-trained embedder drives semantic curation end-to-end (train → embed → near-dup → curate)") {
    import graft.ops.{CorpusEmbed, Curate, CurateConfig, Embed}
    // the q_curate_semantic PATH (fuzzy = "embedding" through the Embedder
    // seam) exercised with the NON-STUB corpus-adapted kernel: train PPMI
    // vectors on the corpus itself, then curate the same corpus in one plan
    val aWords = Vector("spark", "shuffle", "executor", "partition", "stage", "task")
    val bWords = Vector("pasta", "tomato", "basil", "garlic", "oven", "sauce")
    // step 5 is coprime with the 6-word vocab, so every doc cycles ALL its
    // topic's words with a doc-dependent phase: textually distinct (exact
    // dedup keeps them apart), semantically near-parallel under the trained
    // kernel (same topic-term sum), cross-topic disjoint vocab → near 0
    val corpus = (0 until 40).map { i =>
      val w = if (i % 2 == 0) aWords else bWords
      (i.toLong, (0 until 11).map(k => w((i + 5 * k) % w.length)).mkString(" "))
    }
    val df = corpus.toDF("doc_id", "text")
    val emb = CorpusEmbed.train(df, "text",
      dim = 32, window = 3, vocabSize = 64, minCount = 1)
    // sanity: the trained kernel sees topic-mates as near-dups and
    // cross-topic docs as distinct at the threshold the pipeline will use
    val same = Embed.cosine(emb.embed(corpus(0)._2), emb.embed(corpus(2)._2))
    val cross = Embed.cosine(emb.embed(corpus(0)._2), emb.embed(corpus(1)._2))
    assert(same > 0.9 && cross < 0.9, s"same=$same cross=$cross")
    val cfg = CurateConfig(minQuality = 0.0, maxDupLineFrac = 1.0,
      maxTopGramFrac = 1.0, maxDupGramFrac = 1.0,
      fuzzy = "embedding", fuzzyThreshold = 0.9, sampleFraction = 1.0)
    val out = Curate.curateCorpus(df, "doc_id", "text", None, "text", cfg,
      embedder = emb)
      .select("doc_id").as[Long].collect().toSet
    // every doc of a topic is a semantic near-dup of its topic-mates →
    // exactly the min-id canonical per topic survives
    assert(out == Set(0L, 1L), s"got $out")
  }

  test("Embedder seam: a custom kernel changes results end-to-end through every consumer") {
    import graft.ops.{Embedder, Dedup, AdaptiveEmbedding => AE}
    import graft.scrape.CosineExtract
    // a deliberately-degenerate kernel: every text embeds to the same vector
    case class Const(dim: Int = 4) extends Embedder {
      override def embed(text: String): Array[Float] =
        Array.tabulate(dim)(i => if (i == 0) 1f else 0f)
    }
    val twoTopics = Seq(
      "spark shuffle partition executor tuning guide words here",
      "spark stage partition skew salting notes more words",
      "pasta tomato basil sauce recipe kitchen words here",
      "pasta garlic olive oil recipe cooking more words")
    // CosineExtract: default kernel separates the topics; Const collapses
    // everything into ONE cluster (cosine 1 between all chunks)
    val defClusters = CosineExtract.extract(twoTopics,
      CosineExtract.Config(wordCountThreshold = 1, maxDist = 0.4))
    val constClusters = CosineExtract.extract(twoTopics,
      CosineExtract.Config(wordCountThreshold = 1, maxDist = 0.4, embedder = Const()))
    assert(defClusters.length > 1 && constClusters.length == 1)
    // Dedup near-dup: Const makes EVERY pair a near-duplicate
    val df = spark.createDataFrame(twoTopics.zipWithIndex.map { case (t, i) => (i.toLong, t) })
      .toDF("id", "text")
    assert(Dedup.embeddingNearDupText(df, "id", "text", Const()).count() == 6)
    assert(Dedup.embeddingNearDupText(df, "id", "text").count() < 6)
    // AdaptiveEmbedding: under Const the KB dedups everything after doc 1
    // (all cosines 1 ≥ kbSimThreshold) and confidence saturates at 1.0
    val constState = AE.mapQuerySemanticSpace("spark shuffle", Seq("a b", "c d", "e f"), Const())
    AE.updateState(constState, Seq(("u1", "anything"), ("u2", "else")), AE.Config(embedder = Const()))
    assert(constState.kb.length == 1 && AE.confidence(constState) == 1.0)
  }

  test("adaptive embedding: in-plan candidate scoring equals the driver loop exactly") {
    import graft.ops.{AdaptiveEmbedding => AE}
    import spark.implicits._
    val cfg = AE.Config()
    val state = AE.mapQuerySemanticSpace("spark shuffle partition",
      AE.expandQuery("spark shuffle partition", Seq("executor", "stage")))
    AE.updateState(state, Seq(
      ("u1", "spark shuffle partition tuning guide"),
      ("u2", "pasta tomato basil sauce recipe")), cfg)
    val gaps = AE.coverageGaps(state.kb, state.queryEmb)
    val candidates = Seq(
      ("http://a/rel", "spark shuffle partition executor tuning"),
      ("http://a/skew", "partition skew salting executor"),
      ("http://a/noise", "pasta tomato basil recipe"),
      ("http://a/more", "spark stage retry scheduling"),
      ("http://a/empty", "   "))
    // sequential loop vs one Spark stage over the same broadcast state: the
    // shared scalar kernel must make them EXACTLY equal (incl. the
    // empty-anchor drop and the (-score, href) order)
    val seqRanked = AE.selectLinks(candidates, gaps, state.kb, cfg)
    val planRanked = AE.scoreLinksPlan(candidates.toDF("href", "text"),
        "href", "text", gaps, state.kb, cfg)
      .orderBy(col("gap_score").desc, col("href"))
      .as[(String, Double)].collect().toSeq
    assert(planRanked == seqRanked)
    // the crawl-loop hook scores identically
    val hook = AE.linkScorerFor(gaps, state.kb, cfg)
    assert(candidates.filterNot(_._2.trim.isEmpty)
      .map { case (h, t) => (h, hook(h, t)) }.toMap == seqRanked.toMap)
  }

  test("adaptive embedding: gaps, gap-filling link selection, KB dedup") {
    import graft.ops.{AdaptiveEmbedding => AE}
    val cfg = AE.Config()
    val state = AE.mapQuerySemanticSpace("spark shuffle partition",
      AE.expandQuery("spark shuffle partition", Seq("executor", "stage")))
    // empty KB: every query point is a max-distance gap
    assert(AE.coverageGaps(state.kb, state.queryEmb).forall(_._2 == 1.0))
    // a query-relevant link outscores an unrelated one
    val gaps = AE.coverageGaps(state.kb, state.queryEmb)
    val ranked = AE.selectLinks(Seq(
      ("http://a/rel", "spark shuffle partition executor tuning"),
      ("http://a/noise", "pasta tomato basil recipe")), gaps, state.kb, cfg)
    assert(ranked.head._1 == "http://a/rel" && ranked.head._2 > ranked(1)._2)
    // KB update dedups near-identical content (cosine >= 0.95)
    val n1 = AE.updateState(state, Seq(("u1", "spark shuffle partition tuning guide")), cfg)
    val n2 = AE.updateState(state, Seq(("u2", "spark shuffle partition tuning guide")), cfg)
    assert(n1 == 1 && n2 == 0 && state.kb.length == 1 && state.crawled == Set("u1", "u2"))
    // redundancy: with topic A already in the KB, a topic-B link (fills the
    // uncovered query points) outranks another topic-A link
    val twoTopics = AE.mapQuerySemanticSpace("spark shuffle partition",
      Seq("spark shuffle partition executor",
        "pasta tomato basil sauce", "pasta basil garlic",
        "spark stage tuning", "partition skew salt"))
    AE.updateState(twoTopics, Seq(("uA", "spark shuffle partition executor stage tuning")), cfg)
    val gapsAB = AE.coverageGaps(twoTopics.kb, twoTopics.queryEmb)
    val rankedAB = AE.selectLinks(Seq(
      ("http://a/topicA", "spark shuffle partition executor stage tuning"),
      ("http://a/topicB", "pasta tomato basil sauce garlic")), gapsAB, twoTopics.kb, cfg)
    assert(rankedAB.head._1 == "http://a/topicB",
      s"gap-filling link should win: $rankedAB gaps=${gapsAB.map(_._2)}")
  }

  test("adaptive embedding: digest() drives the reference loop shape to a stop") {
    import graft.core.Synth
    import graft.ops.{AdaptiveEmbedding => AE}
    val site = Synth.SiteCfg(seed = 42L, nHosts = 1, cats = 2, subs = 2, prods = 2)
    val pages = (0L until Synth.pageCount(site)).map(Synth.pageAt(site, _))
    val pageMap = pages.map(p => p.url -> p).toMap
    def fetch(u: String): Option[AE.PageData] = pageMap.get(u).map { p =>
      AE.PageData(
        p.expectedSpans.filter(_.kind == "text").map(_.text).mkString(" "),
        p.expectedLinks.filter(_.internal).map(l => (l.href, l.text)))
    }
    val query = "lorem ipsum dolor sit amet consectetur adipiscing elit sed tempor"
    val state = AE.digest(pages.head.url, query, fetch,
      cfg = AE.Config(maxPages = 10))
    assert(state.stoppedReason.isDefined)
    assert(state.crawled.nonEmpty && state.crawled.size <= 13) // budget + one batch
    assert(state.kb.nonEmpty)
    assert(state.confidenceHistory.last > 0.1)
  }

  test("adaptive embedding: e2e crawl of the synthetic site to a confidence stop") {
    import graft.core.Synth
    import graft.ops.{AdaptiveEmbedding => AE}
    val site = Synth.SiteCfg(seed = 42L, nHosts = 1, cats = 2, subs = 2, prods = 2)
    val pages = (0L until Synth.pageCount(site)).map(Synth.pageAt(site, _))
    val pageMap = pages.map(p => p.url -> p).toMap
    def pageText(u: String): String =
      pageMap(u).expectedSpans.filter(_.kind == "text").map(_.text).mkString(" ")

    // query in the site's own vocabulary (the lorem corpus) so the stub
    // embeddings produce meaningful relevance signal
    val query = "lorem ipsum dolor sit amet consectetur adipiscing elit sed tempor"
    val cfg = AE.Config(maxPages = 12)
    val state = AE.mapQuerySemanticSpace(query,
      AE.expandQuery(query, Seq("magna", "aliqua")))
    assert(state.queryEmb.nonEmpty && state.valEmb.length >= 2)

    var pending = Set(pages.head.url)
    var iters = 0
    var stopped = false
    while (!stopped && iters < 40) {
      val gaps = AE.coverageGaps(state.kb, state.queryEmb)
      val candidates = pending.toSeq.sorted.map(u => (u, pageMap(u).title + " " + pageText(u).take(200)))
      val ranked = AE.selectLinks(candidates, gaps, state.kb, cfg)
      val batch = (if (ranked.forall(_._2 == 0.0)) candidates.map(_._1) else ranked.map(_._1)).take(3)
      AE.updateState(state, batch.map(u => (u, pageText(u))), cfg)
      pending = (pending -- batch) ++
        batch.flatMap(u => pageMap(u).expectedLinks.filter(_.internal).map(_.href))
          .filter(u => !state.crawled(u) && pageMap.contains(u))
      state.confidenceHistory :+= AE.confidence(state)
      stopped = AE.shouldStop(state, pending.size, cfg)
      iters += 1
    }
    assert(stopped, s"never stopped; history=${state.confidenceHistory}")
    assert(state.stoppedReason.isDefined)
    // the crawl learned: confidence grew above the irrelevance floor
    assert(state.confidenceHistory.last > cfg.minConfidenceThreshold,
      s"reason=${state.stoppedReason} history=${state.confidenceHistory}")
    // never exceeded the page budget by more than one batch
    assert(state.crawled.size <= cfg.maxPages + 3)
    // KB deduplication kept the knowledge base no larger than pages crawled
    assert(state.kb.length <= state.crawled.size)
  }
}
