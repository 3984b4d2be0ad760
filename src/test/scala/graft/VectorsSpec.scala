package graft

import org.apache.spark.sql.functions._
import graft.functions.{Vectors, VectorsTwin}
import graft.operators.SimilaritySearch

class VectorsSpec extends SparkSpec {
  import spark.implicits._

  test("cosine: identity=1, orthogonal=0, zero-norm guarded") {
    val df = Seq(
      (Array(1f, 2f, 3f), Array(1f, 2f, 3f)),
      (Array(1f, 0f, 0f), Array(0f, 1f, 0f)),
      (Array(0f, 0f, 0f), Array(1f, 1f, 1f))).toDF("a", "b")
    val out = df.select(Vectors.cosine($"a", $"b")).as[Double].collect().toSeq
    assert(math.abs(out(0) - 1.0) < 1e-12)
    assert(out(1) == 0.0)
    assert(out(2) == 0.0)
  }

  test("native dot / lsh buckets bitwise-equal declarative twins") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet").limit(300)
      .select($"vec_id", $"embedding")
    val shifted = e.select($"vec_id",
      reverse($"embedding").as("other"))
    val pairs = e.join(shifted, "vec_id")
    val badDot = pairs.select(
        Vectors.dot($"embedding", $"other").as("nat"),
        VectorsTwin.dotDeclarative($"embedding", $"other").as("dec"))
      .filter(!($"nat" <=> $"dec")).count()
    assert(badDot == 0, "native dot diverges from declarative fold")
    val badLsh = e.select(
        Vectors.lshBucketsAll($"embedding", 4, 3).as("nat"),
        array((0 until 3).map(t => Vectors.lshBucket($"embedding", 4, t)): _*).as("dec"))
      .filter($"nat" =!= $"dec").count()
    assert(badLsh == 0, "native lsh buckets diverge from declarative")
  }

  test("brute-force top-k: self excluded, ranked desc, k respected") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val out = SimilaritySearch.bruteForceTopK(
      e.filter($"vec_id" < 3), e, "vec_id", "embedding", 5).collect()
    assert(out.length == 15)
    assert(!out.exists(r => r.getLong(0) == r.getLong(1)))
    out.groupBy(_.getLong(0)).foreach { case (_, rows) =>
      val cs = rows.sortBy(_.getInt(2)).map(_.getDouble(3)).toSeq
      assert(cs == cs.sorted.reverse)
    }
  }

  test("LSH top-k: results are a subset of same-bucket exact ranking with decent recall") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val exact = SimilaritySearch.bruteForceTopK(e.filter($"vec_id" < 20), e, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = SimilaritySearch.lshTopK(e.filter($"vec_id" < 20), e, "vec_id", "embedding", 5, 4, 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect approx).size.toDouble / exact.size
    assert(recall > 0.3, s"LSH recall too low: $recall") // 4 tables × 16 buckets
  }

  test("kNN join: per-row top-k shape, exact cosines, planted near-dups recovered") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter($"vec_id" < 200).select($"vec_id", $"embedding")
    // plant a near-identical copy of every vector (cosine ~0.999): the
    // high-cosine neighborhood is what LSH blocking is built to keep
    val planted = e.select(($"vec_id" + 100000).as("vec_id"),
      transform($"embedding",
        (x, i) => when(i === 0, x + lit(0.01f)).otherwise(x)).as("embedding"))
    val out = SimilaritySearch.knnJoin(e.unionByName(planted),
      "vec_id", "embedding", k = 3, bits = 6, tables = 2)
    val rows = out.collect()
    // shape: <= k per q, ranks contiguous from 1, cosines descending
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val byRank = rs.sortBy(_.getInt(2))
      assert(byRank.length <= 3)
      assert(byRank.map(_.getInt(2)).toSeq == (1 to byRank.length))
      val cs = byRank.map(_.getDouble(3)).toSeq
      assert(cs == cs.sorted.reverse)
    }
    // recall: each original's planted twin is its true top neighbor;
    // 6-bit × 2-table sign-LSH keeps cos≈0.999 pairs w.p. ~0.99
    val pairs = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val found = (0 until 200).count(i => pairs.contains((i.toLong, i + 100000L)))
    assert(found >= 190, s"planted near-dup recall too low: $found/200")
  }

  test("IVF median-centroid variant: decent recall vs brute force") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val exact = SimilaritySearch.bruteForceTopK(e.filter($"vec_id" < 10), e, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = SimilaritySearch.ivfMedianTopK(e.filter($"vec_id" < 10), e,
        "vec_id", "embedding", "label", 64, 5, 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect ivf).size.toDouble / exact.size
    // synthetic labels are not geometric clusters, so the floor is the
    // probe fraction (3 of 10 clusters); real clustered data does better
    assert(recall > 0.25, s"IVF median recall too low: $recall")
  }

  test("IVF Lloyd refinement: recall at 2 probes >= raw seed at 3 probes") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val exact = SimilaritySearch.bruteForceTopK(e.filter($"vec_id" < 10), e, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallOf(df: org.apache.spark.sql.DataFrame) = {
      val got = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val med3 = recallOf(SimilaritySearch.ivfMedianTopK(e.filter($"vec_id" < 10), e,
      "vec_id", "embedding", "label", 64, 5, 3))
    val lloyd2 = recallOf(SimilaritySearch.ivfLloydTopK(e.filter($"vec_id" < 10), e,
      "vec_id", "embedding", "label", 64, 5, 2))
    val lloyd3 = recallOf(SimilaritySearch.ivfLloydTopK(e.filter($"vec_id" < 10), e,
      "vec_id", "embedding", "label", 64, 5, 3))
    info(s"recall: median@3=$med3 lloyd@2=$lloyd2 lloyd@3=$lloyd3")
    // one geometric reassignment round must not lose recall at equal
    // probes, and must match-or-beat the raw seed while probing FEWER
    // clusters (the point of refinement: less work per query at scale)
    assert(lloyd3 >= med3, s"lloyd@3 $lloyd3 < median@3 $med3")
    assert(lloyd2 >= med3, s"lloyd@2 $lloyd2 < median@3 $med3")
  }

  test("native PQ encode kernel bitwise-equals the declarative twin") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet").limit(400)
    val codebook = SimilaritySearch.pqTrainCodebook(e, "vec_id", "embedding", 64, 8, 16)
    val bad = e.select(
        graft.plans.VecExprs.pqEncode($"embedding", codebook).as("nat"),
        SimilaritySearch.pqEncode($"embedding", codebook).as("dec"))
      .filter(!($"nat" <=> $"dec")).count()
    assert(bad == 0, "native PQ encode diverges from declarative")
  }

  test("dot / lsh twins agree on adversarial vectors (NaN, Inf, empty, mismatch)") {
    // the embedding-space analogue of AdversarialTextSpec: special
    // float values and degenerate shapes must not silently diverge
    // between the byte-walking kernels and the zip_with/aggregate twins
    val nan = Float.NaN
    val inf = Float.PositiveInfinity
    val pairs: Seq[(Array[Float], Array[Float])] = Seq(
      (Array(nan, 1f, 2f), Array(1f, 1f, 1f)),        // NaN element
      (Array(inf, 1f), Array(1f, -inf)),              // Inf * -Inf
      (Array(-0.0f, 0.0f), Array(0.0f, -0.0f)),       // signed zeros
      (Array(1e38f, 1e38f), Array(1e38f, 1e38f)),     // overflow to Inf
      (Array(1e-45f, 1f), Array(1f, 1e-45f)),         // subnormals
      (Array.empty[Float], Array.empty[Float]),       // empty
      (Array(1f, 2f, 3f), Array(1f, 2f)),             // length mismatch
      (Array(1f), Array.empty[Float]))                // mismatch vs empty
    val df = pairs.toDF("a", "b")
    val badDot = df.select(
        Vectors.dot($"a", $"b").as("nat"),
        VectorsTwin.dotDeclarative($"a", $"b").as("dec"))
      .filter(!($"nat" <=> $"dec")).collect()
    assert(badDot.isEmpty, s"dot diverged on: ${badDot.mkString("; ")}")
    val badLsh = df.select($"a",
        Vectors.lshBucketsAll($"a", 4, 2).as("nat"),
        array((0 until 2).map(t => Vectors.lshBucket($"a", 4, t)): _*).as("dec"))
      .filter(!($"nat" <=> $"dec")).collect()
    assert(badLsh.isEmpty, s"lsh diverged on: ${badLsh.mkString("; ")}")
    // null vector: both forms give all-zero buckets (documented)
    val nullRow = spark.sql("SELECT CAST(NULL AS ARRAY<FLOAT>) AS a").select(
        Vectors.lshBucketsAll($"a", 4, 2).as("nat"),
        array((0 until 2).map(t => Vectors.lshBucket($"a", 4, t)): _*).as("dec"))
      .collect().head
    assert(nullRow.getSeq[Long](0) == Seq(0L, 0L))
    assert(nullRow.getSeq[Any](1).forall(x => x == 0L || x == null),
      s"declarative null-vector buckets: $nullRow")
  }

  test("a corrupt (NaN) embedding cannot pair or outrank clean rows: cosine is NULL, never NaN") {
    // SQL comparison semantics rank NaN ABOVE every finite value, so
    // without the nanvl containment one corrupt embedding would pass
    // every `cosine >= threshold` filter in its bucket and take rank 1
    // in every top-k it collides with — silently. The contract: corrupt
    // input -> NULL -> fails thresholds, sorts last.
    val cos = Seq((Array(Float.NaN, 1f), Array(1f, 1f)))
      .toDF("a", "b").select(Vectors.cosine($"a", $"b").as("c")).head()
    assert(cos.isNullAt(0), s"NaN input must yield NULL cosine, got $cos")
    val corpus = Seq(
      (1L, Array(1f, 0f, 0f, 0f)),
      (2L, Array(0.99f, 0.14f, 0f, 0f)),
      (666L, Array(Float.NaN, 1f, 1f, 1f))).toDF("id", "vec")
    val pairs = SimilaritySearch.lshNearDupPairs(corpus, "id", "vec",
        minCosine = 0.9, bits = 1, tables = 4, maxBucket = 16)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(!pairs.exists(p => p._1 == 666L || p._2 == 666L),
      s"the corrupt row must never satisfy the threshold: $pairs")
    val top1 = SimilaritySearch.bruteForceTopK(corpus, corpus, "id", "vec", k = 1)
      .filter($"q_id" === 1L).head()
    assert(top1.getAs[Long]("c_id") == 2L && !top1.isNullAt(top1.fieldIndex("cosine")),
      s"rank 1 for a clean query must be the clean neighbor: $top1")
  }

  test("PQ codebook training rejects null/short anchor vectors loudly") {
    // a corrupt row in the k smallest-hash sample would otherwise NPE
    // on the driver (null vector/element) or build short codewords
    // that ArrayIndexOutOfBounds every encode downstream
    val nullVec = spark.sql("SELECT 1L AS id, CAST(NULL AS ARRAY<FLOAT>) AS vec")
    val e1 = intercept[IllegalArgumentException] {
      SimilaritySearch.pqTrainCodebook(nullVec, "id", "vec", dim = 4, m = 2, k = 4)
    }
    assert(e1.getMessage.contains("NULL vector"), e1.getMessage)
    val nullElem = spark.sql(
      "SELECT 1L AS id, array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)) AS vec")
    val e2 = intercept[IllegalArgumentException] {
      SimilaritySearch.pqTrainCodebook(nullElem, "id", "vec", dim = 2, m = 1, k = 4)
    }
    assert(e2.getMessage.contains("NULL element"), e2.getMessage)
    val short = Seq((1L, Array(1f, 2f))).toDF("id", "vec")
    val e3 = intercept[IllegalArgumentException] {
      SimilaritySearch.pqTrainCodebook(short, "id", "vec", dim = 4, m = 2, k = 4)
    }
    assert(e3.getMessage.contains("dim=4"), e3.getMessage)
  }

  test("native PQ encode: NaN and null-vector edges match the declarative twin") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet").limit(50)
    val codebook = SimilaritySearch.pqTrainCodebook(e, "vec_id", "embedding", 64, 8, 16)
    // NaN element: Double.compare ranks NaN above finite — array_min's order
    val withNaN = e.select(
      zip_with($"embedding", sequence(lit(1), size($"embedding")),
        (x, i) => when(i === 3, lit(Float.NaN)).otherwise(x)).as("embedding"))
    val badNaN = withNaN.select(
        graft.plans.VecExprs.pqEncode($"embedding", codebook).as("nat"),
        SimilaritySearch.pqEncode($"embedding", codebook).as("dec"))
      .filter(!($"nat" <=> $"dec")).count()
    assert(badNaN == 0, "NaN-element encode diverges from declarative")
    // null vector: both forms yield an array of m null codes
    val row = spark.sql("SELECT CAST(NULL AS ARRAY<FLOAT>) AS embedding")
      .select(
        graft.plans.VecExprs.pqEncode($"embedding", codebook).as("nat"),
        SimilaritySearch.pqEncode($"embedding", codebook).as("dec"))
      .collect().head
    val nat = row.getSeq[Integer](0)
    val dec = row.getSeq[Integer](1)
    assert(nat == dec && nat.size == 8 && nat.forall(_ == null))
  }

  test("PQ recon-sqerr kernel bitwise-equals the encode/decode/zip_with twin (incl. edges)") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet").limit(300)
    val codebook = SimilaritySearch.pqTrainCodebook(e, "vec_id", "embedding", 64, 8, 16)
    // corpus vectors + edges: null vector, a null ELEMENT (nulls one
    // code -> decode nulls -> fold nulls), short and LONG vectors
    // (zip_with pads the long one with nulls -> fold nulls)
    val edges = spark.sql(
      """SELECT CAST(NULL AS ARRAY<FLOAT>) AS embedding
        |UNION ALL SELECT transform(sequence(1, 64), i -> CASE WHEN i = 7 THEN CAST(NULL AS FLOAT) ELSE CAST(i AS FLOAT) END)
        |UNION ALL SELECT transform(sequence(1, 32), i -> CAST(i AS FLOAT))
        |UNION ALL SELECT transform(sequence(1, 70), i -> CAST(i AS FLOAT))
        |UNION ALL SELECT transform(sequence(1, 64), i -> CAST('NaN' AS FLOAT))""".stripMargin)
    val bad = e.select($"embedding").unionByName(edges).select(
        graft.plans.VecExprs.pqReconSqErr($"embedding", codebook).as("nat"),
        graft.streaming.IncrementalAnnTwin.reconSqErrDeclarative("embedding", codebook).as("dec"))
      .filter(!($"nat" <=> $"dec")).count()
    assert(bad == 0, "recon-sqerr kernel diverges from the declarative chain")
  }

  test("PQ pair-dot kernel bitwise-equals decode-then-dot (incl. self-norm and null edges)") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet").limit(300)
    val codebook = SimilaritySearch.pqTrainCodebook(e, "vec_id", "embedding", 64, 8, 16)
    val codes = e.select($"vec_id",
      graft.plans.VecExprs.pqEncode($"embedding", codebook).as("code"))
    // cross a sample of code pairs: kernel dot must be BITWISE the
    // declarative decode-then-dot (the d10 screen's survivor set
    // depends on exact equality at the threshold)
    val a = codes.filter($"vec_id" % 7 === 0)
      .select($"vec_id".as("ida"), $"code".as("ca"))
    val b = codes.filter($"vec_id" % 5 === 0)
      .select($"vec_id".as("idb"), $"code".as("cb"))
    val badPairs = a.crossJoin(b).select(
        graft.plans.VecExprs.pqPairDot($"ca", $"cb", codebook, codebook).as("nat"),
        Vectors.dot(SimilaritySearch.pqDecode($"ca", codebook),
          SimilaritySearch.pqDecode($"cb", codebook)).as("dec"))
      .filter(!($"nat" <=> $"dec")).count()
    assert(badPairs == 0, "pair-dot kernel diverges from decode-then-dot")
    // self-dot (the dnorm path): sqrt(pairDot(c, c)) == norm(decode(c))
    val badNorm = codes.select(
        sqrt(graft.plans.VecExprs.pqPairDot($"code", $"code", codebook, codebook)).as("nat"),
        Vectors.norm(SimilaritySearch.pqDecode($"code", codebook)).as("dec"))
      .filter(!($"nat" <=> $"dec")).count()
    assert(badNorm == 0, "pair self-dot norm diverges from decode-then-norm")
    // null edges: a NULL vector encodes to m null codes -> decode is
    // NULL -> dot NULL; a NULL code column short-circuits the same way
    val nullRow = spark.sql("SELECT CAST(NULL AS ARRAY<FLOAT>) AS embedding")
      .select(graft.plans.VecExprs.pqEncode($"embedding", codebook).as("code"))
      .crossJoin(codes.limit(1).select($"code".as("other")))
      .select(
        graft.plans.VecExprs.pqPairDot($"code", $"other", codebook, codebook).as("nat"),
        Vectors.dot(SimilaritySearch.pqDecode($"code", codebook),
          SimilaritySearch.pqDecode($"other", codebook)).as("dec"))
      .collect().head
    assert(nullRow.isNullAt(0) && nullRow.isNullAt(1),
      s"null-code pair must be NULL in both forms: $nullRow")
    // cross-geometry lengths (8x8 vs 4x8 decode widths) -> vecDot's
    // length-mismatch NULL, kernel included
    val cb4 = SimilaritySearch.pqTrainCodebook(e, "vec_id", "embedding", 32, 4, 16)
    val mixed = e.limit(5).select(
        graft.plans.VecExprs.pqEncode($"embedding", codebook).as("c8"),
        graft.plans.VecExprs.pqEncode(slice($"embedding", 1, 32), cb4).as("c4"))
      .select(
        graft.plans.VecExprs.pqPairDot($"c8", $"c4", codebook, cb4).as("nat"),
        Vectors.dot(SimilaritySearch.pqDecode($"c8", codebook),
          SimilaritySearch.pqDecode($"c4", cb4)).as("dec"))
      .filter(!($"nat" <=> $"dec")).count()
    assert(mixed == 0, "cross-geometry pair-dot diverges from decode-then-dot")
  }

  test("sig-agree kernel bitwise-equals the zip_with/aggregate twin (incl. null/ragged edges)") {
    def twin(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => when(x === y, 1).otherwise(0)),
        lit(0), (acc, x) => acc + x)
    // real signatures from the corpus
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(300)
    val sigs = graft.operators.Dedup.minhashSignatures(docs, "doc_id", "text", 3, 16, 4)
      .select($"doc_id", $"sig")
    val pairs = sigs.select($"doc_id".as("ia"), $"sig".as("sa"))
      .crossJoin(sigs.select($"doc_id".as("ib"), $"sig".as("sb")))
      .filter($"ia" % 17 === 0)
    val bad = pairs.select(
        graft.plans.VecExprs.sigAgree($"sa", $"sb").as("nat"),
        twin($"sa", $"sb").as("dec"))
      .filter(!($"nat" <=> $"dec")).count()
    assert(bad == 0, "sig-agree kernel diverges from the HOF twin")
    // edges: null array, null element, ragged lengths, empty
    val edges = spark.sql(
      """SELECT * FROM VALUES
        |  (CAST(NULL AS ARRAY<BIGINT>), array(1L, 2L)),
        |  (array(1L, CAST(NULL AS BIGINT)), array(1L, NULL)),
        |  (array(1L, 2L, 3L), array(1L, 2L)),
        |  (array(), array(1L)),
        |  (array(7L), array(7L)) AS t(sa, sb)""".stripMargin)
    val badEdge = edges.select(
        graft.plans.VecExprs.sigAgree($"sa", $"sb").as("nat"),
        twin($"sa", $"sb").as("dec"))
      .filter(!($"nat" <=> $"dec")).collect()
    assert(badEdge.isEmpty, s"edge divergence: ${badEdge.mkString("; ")}")
  }

  test("sorted-distinct kernel bitwise-equals array_sort(array_distinct(...))") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(300)
    val bad = docs.select(
        graft.plans.SortedDistinctLongs.column(
          graft.plans.ShingleHashes64.column($"text", 3)).as("nat"),
        array_sort(array_distinct(
          graft.plans.ShingleHashes64.column($"text", 3))).as("dec"))
      .filter(!($"nat" <=> $"dec")).count()
    assert(bad == 0, "sorted-distinct kernel diverges on corpus shingles")
    val edges = spark.sql(
      """SELECT * FROM VALUES
        |  (CAST(NULL AS ARRAY<BIGINT>)),
        |  (array(3L, 1L, 3L, CAST(NULL AS BIGINT), 2L, NULL)),
        |  (array()),
        |  (array(CAST(NULL AS BIGINT))),
        |  (array(5L, 5L, 5L)) AS t(a)""".stripMargin)
    val badEdge = edges.select(
        graft.plans.SortedDistinctLongs.column($"a").as("nat"),
        array_sort(array_distinct($"a")).as("dec"))
      .filter(!($"nat" <=> $"dec")).collect()
    assert(badEdge.isEmpty, s"edge divergence: ${badEdge.mkString("; ")}")
  }

  test("PQ top-k: compressed codes, decode distortion bounded, recall after re-rank") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val codebook = SimilaritySearch.pqTrainCodebook(e, "vec_id", "embedding", 64, 8, 16)
    assert(codebook.length == 8 && codebook.forall(_.length == 16) &&
      codebook.forall(_.forall(_.length == 8)))
    // codes are m small ints — the compressed corpus payload
    val code = e.limit(1).select(
      SimilaritySearch.pqEncode($"embedding", codebook).as("c"))
      .collect().head.getSeq[Int](0)
    assert(code.length == 8 && code.forall(ci => ci >= 0 && ci < 16))
    // a codebook anchor encodes to itself: zero distortion on codewords
    val anchors = e.withColumn("__h",
        graft.functions.Hashing.hash64($"vec_id".cast("string")))
      .orderBy($"__h".asc, $"vec_id".asc).limit(16)
    val perfect = anchors.select(
        Vectors.cosine($"embedding",
          SimilaritySearch.pqDecode(
            SimilaritySearch.pqEncode($"embedding", codebook), codebook)).as("c"))
      .collect().map(_.getDouble(0))
    assert(perfect.forall(c => c > 1.0 - 1e-9), s"anchor roundtrip lossy: ${perfect.min}")
    val exact = SimilaritySearch.bruteForceTopK(e.filter($"vec_id" < 10), e,
        "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = SimilaritySearch.pqTopK(e.filter($"vec_id" < 10), e,
        "vec_id", "embedding", 64, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact intersect pq).size.toDouble / exact.size
    info(s"PQ recall after re-rank: $recall")
    assert(recall >= 0.3, s"PQ recall too low: $recall")
  }

  test("IVF top-k: probing more clusters increases (or keeps) recall") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
    val exact = SimilaritySearch.bruteForceTopK(e.filter($"vec_id" < 10), e, "vec_id", "embedding", 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallAt(p: Int) = {
      val got = SimilaritySearch.ivfTopK(e.filter($"vec_id" < 10), e,
        "vec_id", "embedding", "label", 5, p)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (exact intersect got).size.toDouble / exact.size
    }
    val r2 = recallAt(2); val r5 = recallAt(5)
    assert(r5 >= r2)
    assert(r5 > 0.3, s"IVF recall@5probes too low: $r5")
  }

  test("kNN join bucket cap: no-op when loose, query coverage and recall preserved when binding") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter($"vec_id" < 300).select($"vec_id", $"embedding")
    def knn(cap: Int, tables: Int = 2) =
      SimilaritySearch.knnJoin(e, "vec_id", "embedding",
          k = 3, bits = 4, tables = tables, maxBucket = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a cap at least as large as every bucket is byte-identical to
    // effectively-uncapped — the cap only ever REMOVES candidates
    val uncapped = knn(1 << 30)
    assert(knn(300) == uncapped, "non-binding cap changed the result")
    // binding cap (4 bits over 300 rows → ~19 per bucket, cap 8 keeps
    // under half of each hot bucket): every query keeps a neighbor
    // list — capping the candidate side only must never erase a
    // document's query role
    val capped = knn(8)
    assert(capped.map(_._1) == uncapped.map(_._1),
      "cap erased whole query rows from the kNN join")
    // per-table hash order differs, so the 3rd table recovers evicted
    // candidates: recall with compensation beats the bare capped run
    val compensated = knn(8, tables = 3)
    val recall = (capped & uncapped).size.toDouble / uncapped.size
    val recall3 = (compensated & uncapped).size.toDouble / uncapped.size
    assert(recall > 0.3, s"capped recall collapsed: $recall")
    assert(recall3 >= recall,
      s"extra table did not compensate recall: $recall3 < $recall")
  }

  test("bucket cap bounds a degenerate bucket linearly and keeps the join total") {
    // clone bomb: every vector identical → each LSH table has ONE
    // bucket holding the whole corpus; uncapped, the self-join would
    // produce n² pair rows through a single shuffle key
    val n = 400
    val e = spark.range(n).select($"id".as("vec_id"),
      array_repeat(lit(1.0f), 8).as("embedding"))
    val banded = e.select($"vec_id",
      posexplode(Vectors.lshBucketsAll($"embedding", 4, 2)).as(Seq("tbl", "bucket")))
    val capped = graft.operators.BucketCap.capMembers(
      banded, Seq("tbl", "bucket"), "vec_id", 8)
    val perBucket = capped.groupBy($"tbl", $"bucket").count()
      .select($"count").as[Long].collect()
    assert(perBucket.forall(_ <= 8), s"bucket cap violated: ${perBucket.toSeq}")
    // the ordering hash includes the table id, so the two tables keep
    // DIFFERENT member subsets — that is what lets extra tables buy
    // back recall evicted by a hot bucket
    val kept = capped.select($"tbl", $"vec_id").as[(Int, Long)].collect()
      .groupBy(_._1).map { case (t, rs) => t -> rs.map(_._2).toSet }
    assert(kept(0) != kept(1), "per-table cap selections must differ")
    // and the operator stays total: every query still gets k neighbors
    // (candidates capped per bucket, but >= cap-1 >= k remain)
    val out = SimilaritySearch.knnJoin(e, "vec_id", "embedding",
      k = 3, bits = 4, tables = 2, maxBucket = 8)
    assert(out.select($"q_id").distinct().count() == n)
    val counts = out.groupBy($"q_id").count().select($"count").as[Long].collect()
    assert(counts.forall(_ == 3))
  }

  test("refinement family independence is asserted, not assumed from the offset") {
    import graft.operators.BucketCap.requireIndependentFamilies
    // hyperplane components depend on the plane index only mod 1997,
    // so "extension planes start at offset 65536" does NOT by itself
    // keep the families disjoint — every declared geometry is checked
    // to be, and a config whose base planes reach the extension
    // residue class must be rejected loudly (a collision makes
    // extension signs a function of the base bucket: hot buckets of
    // non-clone data refuse to split and the flat cap silently drops
    // real pairs)
    requireIndependentFamilies(8, 4, 12, 4)   // d10_scaled / n8 declared
    requireIndependentFamilies(20, 4, 12, 4)  // scaled-bits upper range
    requireIndependentFamilies(1, 1, 8, 1)    // StreamingSpec's refinement shape
    val e = intercept[IllegalArgumentException] {
      requireIndependentFamilies(64, 26, 12, 26)
    }
    assert(e.getMessage.contains("1997"))
  }

  test("bucket cap selection is deterministic under repartitioning") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .filter($"vec_id" < 200).select($"vec_id", $"embedding")
    val banded = e.select($"vec_id",
      posexplode(Vectors.lshBucketsAll($"embedding", 3, 2)).as(Seq("tbl", "bucket")))
    def keep(df: org.apache.spark.sql.DataFrame) =
      graft.operators.BucketCap.capMembers(df, Seq("tbl", "bucket"), "vec_id", 4)
        .select($"tbl", $"bucket", $"vec_id")
        .as[(Int, Long, Long)].collect().toSet
    assert(keep(banded) == keep(banded.repartition(13)),
      "cap selection must be a pure function of (bucket, id), not partitioning")
  }

  test("declared ANN configs hold the round-9 measured recall floors at sf0.1") {
    // Floors = the RecallRun/ScaleRun measured recall@5 of the DECLARED
    // n2/n3/n5 configurations on the sf0.1 corpus (bench/recall_r9.json:
    // lsh b4 t4 = 0.325, ivf p3 = 0.325, pq m8 c16 r4 = 0.375) minus a
    // ~0.07 margin, so a regression in bucket hashing, probe routing or
    // PQ encode/re-rank that silently costs recall fails here instead
    // of surfacing as an unexplained quality drop at corpus scale.
    // External-corpus dependency: the floors were measured on the
    // driver-generated sf0.1 embeddings (TESTDATA.md generation; the
    // driver may regenerate between rounds — a re-seeded corpus moves
    // point recalls by a few hundredths, which the margin absorbs).
    // Missing data cancels rather than fails: the unit suite must stay
    // runnable from a bare checkout.
    val d = "/root/testdata/sf0.1"
    assume(java.nio.file.Files.exists(
        java.nio.file.Paths.get(s"$d/embeddings.parquet")),
      s"$d/embeddings.parquet absent — recall floors need the sf0.1 corpus")
    def sets(name: String): Map[Long, Set[Long]] =
      graft.SparkEntry.queries(name)(spark, d)
        .select("q_id", "c_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (q, rs) => q -> rs.map(_._2).toSet }
    val exact = sets("n1_ann_bruteforce")
    def recallVs(got: Map[Long, Set[Long]]): Double = {
      val r = exact.toSeq.map { case (q, ex) =>
        got.getOrElse(q, Set.empty).intersect(ex).size.toDouble / ex.size }
      r.sum / r.size
    }
    def recallOf(name: String): Double = recallVs(sets(name))
    val lsh = recallOf("n2_ann_lsh")
    val ivf = recallOf("n3_ann_ivf")
    val pq = recallOf("n5_ann_pq")
    info(f"sf0.1 recall@5: lsh=$lsh%.3f ivf=$ivf%.3f pq=$pq%.3f")
    assert(lsh >= 0.25, s"n2 lsh recall regressed below measured floor: $lsh")
    assert(ivf >= 0.25, s"n3 ivf recall regressed below measured floor: $ivf")
    assert(pq >= 0.30, s"n5 pq recall regressed below measured floor: $pq")

    // The SCALING-RULE configs the SCALE.md knob tables prescribe past
    // x1 (wider lsh tables / fewer bits, deeper ivf probes, larger pq
    // rerank) — their measured x1 recalls (0.80 / 0.775 / 1.0 / 1.0)
    // floored at measured − ~0.07. A regression here would silently
    // invalidate the published recall-vs-cost curves the 100 TB knob
    // rules are derived from, even with the declared configs healthy.
    val s = spark
    val e = graft.model.Tables.load(s, d, "embeddings")
    val q = e.filter($"vec_id" < 8)
    import graft.operators.SimilaritySearch
    val lshWide = recallVs(
      SimilaritySearch.lshTopK(q, e, "vec_id", "embedding", 5, 2, 4)
        .select("q_id", "c_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).toSet })
    val ivfDeep = recallVs(
      SimilaritySearch.ivfMedianTopK(q, e, "vec_id", "embedding", "label",
          dim = 64, k = 5, nProbe = 10)
        .select("q_id", "c_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).toSet })
    val pqDeep = recallVs(
      SimilaritySearch.pqTopK(q, e, "vec_id", "embedding", dim = 64, k = 5,
          m = 8, codewords = 16, rerank = 256)
        .select("q_id", "c_id").as[(Long, Long)].collect()
        .groupBy(_._1).map { case (k, rs) => k -> rs.map(_._2).toSet })
    info(f"sf0.1 scale-config recall@5: lsh_b2_t4=$lshWide%.3f ivf_p10=$ivfDeep%.3f pq_r256=$pqDeep%.3f")
    assert(lshWide >= 0.72, s"lsh b2/t4 scaling-rule recall regressed: $lshWide")
    assert(ivfDeep >= 0.92, s"ivf nProbe=10 scaling-rule recall regressed: $ivfDeep")
    assert(pqDeep >= 0.92, s"pq rerank=256 scaling-rule recall regressed: $pqDeep")
  }

  test("refine-then-cap holds a >= 0.9 pair-recall floor where a flat cap collapses") {
    // Regression gate for the round-10 recall win (bench/n8_cap_recall:
    // refine12/cap128 = 0.969 vs flat64 = 0.719 at x100): a SEEDED
    // adversarial corpus — few base bits over many vectors, so every
    // base bucket holds ~80 members against a cap of 16 — where a flat
    // cap measurably collapses pair recall and 12-bit hot-bucket
    // refinement must hold >= 0.9 against the uncapped truth, for all
    // three refine-capable generators (pqNearDupPairs, lshNearDupPairs,
    // IncrementalAnn.incrementalPairs). Capped outputs are strict
    // subsets of the uncapped run (refinement only partitions buckets;
    // the cap selects within them; verification is shared), so recall
    // is the exact row-count ratio. The companion asserts flat-capped
    // recall BELOW the floor: if refinement is disabled or silently
    // stops splitting, this test goes red, not just less green.
    val rnd = new scala.util.Random(20260816L)
    val dim = 16
    def vec() = Array.fill(dim)(rnd.nextGaussian())
    val bases = (0 until 1200).map(i => (i.toLong, vec()))
    // twins: tiny jitter, cosine ~0.9999 — survives the 0.9 verifier
    // and agrees with its base on almost every extension sign
    val twins = bases.take(150).map { case (i, v) =>
      (i + 10000L, v.map(x => x + 0.002 * rnd.nextGaussian()))
    }
    val corpus = (bases ++ twins).toDF("vec_id", "vec")
      .repartition(8).cache()
    corpus.count()
    def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    def audit(name: String,
              run: (Int, Int) => org.apache.spark.sql.DataFrame): Unit = {
      val truth = pairSet(run(Int.MaxValue, 0))
      val flat = pairSet(run(16, 0))
      val refined = pairSet(run(16, 12))
      assert(truth.nonEmpty, s"$name: degenerate corpus, no true pairs")
      assert(flat.subsetOf(truth) && refined.subsetOf(truth),
        s"$name: capped output must be a subset of the uncapped truth")
      val fr = flat.size.toDouble / truth.size
      val rr = refined.size.toDouble / truth.size
      info(f"$name: truth=${truth.size} flat=$fr%.3f refined=$rr%.3f")
      assert(rr >= 0.9, s"$name: refine-then-cap recall floor broken: $rr")
      assert(fr < 0.9,
        s"$name: flat cap no longer collapses on the adversarial corpus " +
          s"($fr) — the floor above is not exercising refinement")
    }
    audit("lshNearDupPairs", (cap, refine) =>
      SimilaritySearch.lshNearDupPairs(corpus, "vec_id", "vec",
        minCosine = 0.9, bits = 4, tables = 2,
        maxBucket = cap, refineBits = refine))
    audit("pqNearDupPairs", (cap, refine) =>
      SimilaritySearch.pqNearDupPairs(corpus, "vec_id", "vec", dim = dim,
        threshold = 0.9, margin = 0.15, bits = 4, tables = 2,
        maxBucket = cap, refineBits = refine))
    val store = corpus.filter($"vec_id" < 10000)
    val batch = corpus.filter($"vec_id" >= 10000)
    audit("incrementalPairs", (cap, refine) =>
      graft.streaming.IncrementalAnn.incrementalPairs(store, batch,
        "vec_id", "vec", dim = dim, lshBits = 4, lshTables = 2,
        minCosine = 0.9, maxBucket = cap, refineBits = refine))
    corpus.unpersist()
  }
}
