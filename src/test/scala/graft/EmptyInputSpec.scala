package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}
import graft.operators._
import graft.streaming.IncrementalCorpusStats

/** Empty-input totality: every library operator must map empty input to
  * empty output (or raise a DOCUMENTED argument error) — never an
  * ArrayIndexOutOfBounds/NoSuchElement from an internal collect. At
  * 100 TB an empty slice is routine: a zero-row incremental batch, a
  * filter that matches nothing, a new source directory. An operator
  * that crashes on it takes down the whole pipeline run.
  */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private def docs0: DataFrame = Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def vecs0: DataFrame =
    Seq.empty[(Long, Array[Float], Long)].toDF("vec_id", "embedding", "label")
  private def kv0: DataFrame = Seq.empty[(Long, String, Double)].toDF("id", "src", "v")
  private def ts0: DataFrame = Seq.empty[(Long, Long, Double)].toDF("k", "ts", "v")

  test("dedup family: empty corpus → empty pairs/signatures") {
    assert(Dedup.exactDedup(docs0, "doc_id", "text").count() == 0)
    assert(Dedup.minhashSignatures(docs0, "doc_id", "text", 3, 16, 4).count() == 0)
    assert(Dedup.minhashPairs(docs0, "doc_id", "text", 3, 16, 4, 50).count() == 0)
    assert(Dedup.simhashes(docs0, "doc_id", "text", 48).count() == 0)
    assert(Dedup.simhashNearDup(docs0, "doc_id", "text", 48, 3, 16).count() == 0)
    assert(Dedup.containmentPairs(docs0, "doc_id", "text", 3).count() == 0)
    assert(Dedup.spanDedup(docs0, "doc_id", "text", 16).count() == 0)
    assert(Dedup.winnowingOverlap(docs0, "doc_id", "text", 3, 4, 1).count() == 0)
    val store0 = Dedup.spanStore(docs0, "doc_id", "text", 16)
    assert(Dedup.incrementalSpanDedup(docs0, store0, "doc_id", "text", 16).count() == 0)
    // an empty store is a no-op filter, not a crash
    assert(Dedup.incrementalSpanDedup(
      Seq((1L, "a b")).toDF("doc_id", "text"), store0, "doc_id", "text", 16).count() == 1)
    // substring-scrub family: empty corpus, empty batch, empty stores
    assert(Dedup.dedupSubstrings(docs0, "doc_id", "text", 3).count() == 0)
    val gstore0 = Dedup.substringGramStore(docs0, "text", 3)
    assert(Dedup.incrementalSubstringScrub(docs0, gstore0, "doc_id", "text", 3).count() == 0)
    assert(Dedup.incrementalSubstringScrub(
      Seq((1L, "a b")).toDF("doc_id", "text"), gstore0, "doc_id", "text", 3).count() == 1)
    val fpstore0 = Dedup.winnowedFingerprints(docs0, "doc_id", "text", 3, 4)
    assert(Dedup.incrementalWinnowingOverlap(docs0, fpstore0,
      "doc_id", "text", 3, 4, 1).count() == 0)
    assert(Dedup.incrementalWinnowingOverlap(
      Seq((1L, "a b c d")).toDF("doc_id", "text"), fpstore0,
      "doc_id", "text", 3, 4, 1).count() == 0)
  }

  test("similarity search: empty corpus and empty query set → empty top-k") {
    val q = Seq((0L, Array(1f, 0f, 0f, 0f))).toDF("vec_id", "embedding")
    val c = Seq((1L, Array(0f, 1f, 0f, 0f))).toDF("vec_id", "embedding")
    val v0 = vecs0.select($"vec_id", $"embedding")
    assert(SimilaritySearch.bruteForceTopK(q, v0, "vec_id", "embedding", 3).count() == 0)
    assert(SimilaritySearch.bruteForceTopK(v0, c, "vec_id", "embedding", 3).count() == 0)
    assert(SimilaritySearch.lshTopK(q, v0, "vec_id", "embedding", 3, 4, 2).count() == 0)
    assert(SimilaritySearch.knnJoin(v0, "vec_id", "embedding", 3, 4, 2).count() == 0)
    assert(SimilaritySearch.ivfMedianTopK(q, vecs0, "vec_id", "embedding", "label",
      dim = 4, k = 3, nProbe = 2).count() == 0)
  }

  test("near-dup pair generators: empty corpus → empty pairs, refine arm included") {
    val v0 = vecs0.select($"vec_id", $"embedding")
    // the refine-then-cap arm adds a groupBy-occupancy pass and a
    // left join before the cap — all of it must be total on zero rows
    assert(SimilaritySearch.lshNearDupPairs(v0, "vec_id", "embedding",
      minCosine = 0.9, bits = 4, tables = 2, maxBucket = 16).count() == 0)
    assert(SimilaritySearch.lshNearDupPairs(v0, "vec_id", "embedding",
      minCosine = 0.9, bits = 4, tables = 2, maxBucket = 16,
      refineBits = 12).count() == 0)
    // refine without a finite cap is the documented argument error
    val e = intercept[IllegalArgumentException] {
      SimilaritySearch.lshNearDupPairs(v0, "vec_id", "embedding",
        minCosine = 0.9, bits = 4, tables = 2,
        maxBucket = Int.MaxValue, refineBits = 12)
    }
    assert(e.getMessage.contains("cap"))
    // (pqNearDupPairs on an empty corpus is the codebook-training
    // error below — documented, not a silent empty)
  }

  test("PQ codebook training on an empty corpus raises a documented error") {
    val v0 = vecs0.select($"vec_id", $"embedding")
    val e = intercept[IllegalArgumentException] {
      SimilaritySearch.pqTrainCodebook(v0, "vec_id", "embedding", dim = 4, m = 2, k = 4)
    }
    assert(e.getMessage.contains("empty"))
  }

  test("curation ordinals: empty input → empty output, single row → ordinal 0") {
    assert(Curation.globalOrdinals(kv0, Seq("v", "id")).count() == 0)
    val one = Curation.globalOrdinals(
      Seq((7L, "s", 1.0)).toDF("id", "src", "v"), Seq("v", "id"))
    assert(one.select($"ordinal").as[Long].collect().toSeq == Seq(0L))
  }

  test("corpus stats: empty corpus → empty stats") {
    assert(CorpusStats.tfidfTopK(docs0, "doc_id", "text", 3).count() == 0)
    assert(CorpusStats.boilerplateRatio(docs0, "doc_id", "text", 3, 3L).count() == 0)
    assert(CorpusStats.removeSharedSpans(docs0, "doc_id", "text", 3, 3L).count() == 0)
    assert(CorpusStats.heavyHitters(docs0, "text", 200).count() == 0)
    assert(CorpusStats.oovScrub(docs0, "doc_id", "text", 1, 2).count() == 0)
    assert(CorpusStats.bigramFluency(docs0, "doc_id", "text").count() == 0)
    val model0 = Seq.empty[(String, Long)].toDF("tok", "w")
    assert(CorpusStats.linearModelScore(
      docs0, "doc_id", "text", model0, "tok", "w", 0L).count() == 0)
    // empty MODEL against a real corpus: every doc scores exactly bias
    val scored = CorpusStats.linearModelScore(
        Seq((1L, "a b")).toDF("doc_id", "text"),
        "doc_id", "text", model0, "tok", "w", 3L)
      .select($"n_hits", $"score").as[(Int, Long)].collect().toSeq
    assert(scored == Seq((0, 3L)))
    // a never-written incremental stats store resolves to typed empty stats
    val never = java.nio.file.Files.createTempDirectory("graft-nostats")
      .resolve("store").toString
    for (upto <- Seq(None, Some(0L))) {
      val stats = IncrementalCorpusStats.resolveStats(spark, never, upto)
      assert(stats.schema.map(f => f.name -> f.dataType) == Seq(
        "token" -> StringType, "tf" -> LongType, "df" -> LongType))
      assert(stats.count() == 0)
    }
    assert(IncrementalCorpusStats.heavyHittersFromStore(spark, never, 200).count() == 0)
  }

  test("curation: empty corpus → empty splits/samples/outliers") {
    assert(Curation.hashSplit(kv0, "id").count() == 0)
    assert(Curation.weightedSample(kv0, "id", lit(5), 10).count() == 0)
    assert(Curation.stratifiedSample(kv0, Seq("src"), "id", 5).count() == 0)
    assert(Curation.lengthOutliers(kv0.withColumn("n", lit(1)), "src", "n", 95)
      .count() == 0)
  }

  test("components: empty edge set → empty labeling; empty batch is a no-op") {
    val edges0 = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Components.connectedComponents(edges0, "a", "b").count() == 0)
    assert(Components.connectedComponentsStar(edges0, "a", "b").count() == 0)
    val labels = Seq((1L, 1L), (2L, 1L)).toDF("node", "cluster")
    val merged = Components.mergeIncrementalClusters(labels, edges0, "a", "b")
    assert(merged.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ==
      Set((1L, 1L), (2L, 1L)))
  }

  test("temporal joins: one or both sides empty → left rows or nothing, no crash") {
    val l = Seq((1L, 100L, 1.0)).toDF("k", "ts", "v")
    val r0 = ts0.withColumnRenamed("v", "rv")
    assert(AsOfJoin.backward(l, r0, Seq("k"), "ts").count() == 1)
    assert(AsOfJoin.backward(r0, l, Seq("k"), "ts").count() == 0)
    assert(RangeJoin.bandJoin(ts0, l, Seq("k"), "ts", 10L).count() == 0)
  }

  test("null text rows flow through the text operators without crashing") {
    val docsN = Seq((1L, "alpha beta gamma delta epsilon"), (2L, null.asInstanceOf[String]),
      (3L, "alpha beta gamma delta epsilon")).toDF("doc_id", "text")
    // null text hashes to a null group / no shingles — never an NPE
    assert(Dedup.exactDedup(docsN, "doc_id", "text").count() >= 1)
    assert(Dedup.minhashSignatures(docsN, "doc_id", "text", 3, 16, 4).count() == 3)
    assert(Dedup.minhashPairs(docsN, "doc_id", "text", 3, 16, 4, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 3L)))
    assert(CorpusStats.tfidfTopK(docsN, "doc_id", "text", 3).count() > 0)
    assert(CorpusStats.heavyHitters(docsN, "text", 3).count() >= 0)
  }

  test("null embedding rows flow through the vector operators without crashing") {
    val vecsN = Seq((1L, Array(1f, 0f, 0f, 0f)), (2L, null.asInstanceOf[Array[Float]]),
      (3L, Array(1f, 0.01f, 0f, 0f))).toDF("vec_id", "embedding")
    val knn = SimilaritySearch.knnJoin(vecsN, "vec_id", "embedding", 2, 2, 2)
    // the null vector produces null buckets → excluded from candidates
    assert(!knn.collect().exists(r => r.getLong(0) == 2L || r.getLong(1) == 2L))
    val bf = SimilaritySearch.bruteForceTopK(
      vecsN.filter($"vec_id" === 1), vecsN, "vec_id", "embedding", 2)
    bf.collect() // null candidate scores null cosine; must not throw
  }

  test("sketches and skew: empty input → empty estimates, not division errors") {
    assert(Sketches.kmvDistinctEstimate(kv0, "id", 16).collect()
      .forall(r => r.isNullAt(0) || r.getDouble(0) == 0.0))
    assert(Skew.saltedSumCount(kv0, "src", "v", 4).count() == 0)
    assert(Skew.cloneSaltedSumCount(kv0, "src", "v", 4).count() == 0)
    // overlap of two empty sets is 0, never 0/0 = NaN
    val ov = Sketches.kmvOverlapEstimate(
      kv0.select($"src".as("key")), kv0.select($"src".as("key")), "key", 16).head()
    assert(ov.getDouble(0) == 0.0 && ov.getDouble(3) == 0.0)
  }
}
