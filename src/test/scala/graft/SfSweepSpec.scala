package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** The sweep harness's replica builder is measurement infrastructure, but a
  * broken manifest (e.g. an ANSI long-overflow in the content hash — the
  * exact bug this spec was added after) silently blocks every scale sweep,
  * so its contract gets a real test: build from the smallest testdata dir,
  * assert the resume fast path, and assert a content change forces rebuild.
  */
class SfSweepSpec extends AnyFunSuite {
  private val spark = SparkTestSession.spark
  private val src = "/root/testdata/sf0.001"
  // ONE replica build shared by both tests — the multi-table 10× build is
  // the suite's most expensive fixture, and both tests only read it
  private lazy val dst = {
    val d = Files.createTempDirectory("graft-replica").toString
    SfSweep.buildReplica(spark, src, d)
    d
  }

  test("buildReplica writes all tables, a manifest, and resumes idempotently") {
    assume(Files.exists(Paths.get(src)), s"testdata missing at $src")
    dst
    for (t <- Seq("documents", "embeddings", "events", "customer", "orders",
                  "part", "supplier", "lineitem", "region", "nation"))
      assert(Files.exists(Paths.get(s"$dst/$t.parquet/_SUCCESS")), s"missing $t")
    val manifest = Paths.get(dst, "manifest.json")
    assert(Files.exists(manifest))
    val body = new String(Files.readAllBytes(manifest), "UTF-8")
    // the content hash must be present and numeric for every table — a
    // crash in its computation (the ANSI overflow) never reaches here
    assert("\"hash\":-?\\d+".r.findAllIn(body).size == 10, body)
    val docs10 = spark.read.parquet(s"$dst/documents.parquet").count()
    val docs1 = spark.read.parquet(s"$src/documents.parquet").count()
    assert(docs10 == docs1 * 10, "scaled table must replicate by Factor")
    assert(spark.read.parquet(s"$dst/nation.parquet").count() ==
      spark.read.parquet(s"$src/nation.parquet").count(),
      "fixed-cardinality dims copy once, unscaled")

    // resume: same src → fast path must keep the replica (mtime unchanged)
    val mtime = Files.getLastModifiedTime(
      Paths.get(s"$dst/documents.parquet/_SUCCESS"))
    SfSweep.buildReplica(spark, src, dst)
    assert(Files.getLastModifiedTime(
      Paths.get(s"$dst/documents.parquet/_SUCCESS")) == mtime,
      "unchanged src must hit the manifest resume path, not rebuild")

    // a manifest that no longer matches (stale replica) must force a rebuild
    Files.write(manifest, "{\"src\":\"elsewhere\"}".getBytes("UTF-8"))
    SfSweep.buildReplica(spark, src, dst)
    assert(new String(Files.readAllBytes(manifest), "UTF-8") == body,
      "rebuild must restore the true manifest")
  }

  test("replicas are textually disjoint UNDER THE DEDUP TOKENIZER") {
    // Regression: digit suffixes "x1".."x9" collapse to the same token under
    // the [^a-z]+ tokenizer (digits stripped), making replicas 1..9 token-
    // level clones — near-dup sweeps then measure an artificial n² duplicate
    // clique, not data scale. The property under test: no non-empty token
    // stream appears in more than one replica. (NOT an exact 10×-distinct
    // count: the suffix transform is only stream-injective for pure-letter
    // text, so a testdata regen containing digits/punctuation could shift
    // per-replica distinct counts while disjointness still holds.)
    assume(Files.exists(Paths.get(src)), s"testdata missing at $src")
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dst/documents.parquet")
    // same tokenizer semantics as Dedup.tokenizeFast (Column-spec twin)
    val perStream = docs.select(
        (col("doc_id") / 10000000L).cast("long").as("replica"),
        array_join(graft.ops.TextAnalysis.tokens(col("text")), " ").as("tok"))
      .where(length(col("tok")) > 0)
      .groupBy("tok").agg(countDistinct(col("replica")).as("replicas"))
    val clones = perStream.where(col("replicas") > 1).count()
    assert(clones == 0,
      s"$clones token streams shared across replicas — digit-suffix regression?")
    // and the build is not degenerate: every replica contributes streams
    assert(perStream.count() >=
      spark.read.parquet(s"$src/documents.parquet").count(),
      "replica token streams missing")
  }

  test("the sweep list is the 16 ops, then every driver query but crawl_*") {
    val ops = Seq("scan_gates", "exact_dedup", "minhash_lsh", "simhash_pairs",
      "ngram_jaccard", "embedding_neardup", "bm25", "repetition", "ngram_lm",
      "pagerank", "dsir_sample", "pack_sequences", "ann_brute_topk",
      "sessionize", "lineitem_agg", "curate_e2e")
    // building the list only makes closures: no dir is read, no job runs
    val names = SfSweep.entries(spark, "/nonexistent", 1).map(_._1)
    assert(names == ops ++
      SparkEntry.queries.keys.filterNot(_.startsWith("crawl_")).toSeq.sorted)
    assert(names.distinct == names, "entry names must be unique")
  }
}
