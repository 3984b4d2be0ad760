package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  test("exact dedup keeps lowest id per identical content") {
    val df = Seq((1L, "aa bb cc"), (2L, "dd ee ff"), (7L, "aa bb cc")).toDF("id", "text")
    val out = Dedup.exactDedup(df, "id", "text")
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(out == Map(1L -> 2L, 2L -> 1L)) // keeper 1 has 2 copies
  }

  test("minhash LSH finds planted near-dup, skips unrelated") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    val near = base + " extra"
    val other = "completely different words entirely unrelated content here now ok yes"
    val df = Seq((1L, base), (2L, near), (3L, other)).toDF("id", "text")
    val pairs = Dedup.minhashPairs(df, "id", "text", 3, 16, 4, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("incremental pairs equal full-corpus pairs restricted to the batch") {
    // universe: 40 base docs + mutated copies of every 4th (ids +1000)
    val base = (1 to 40).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta token$i number$i"))
    val incoming = base.filter(_._1 % 4 == 0)
      .map { case (id, t) => (id + 1000, t + " tail") }
    val baseDf = base.toDF("doc_id", "text")
    val incDf = incoming.toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(baseDf, "doc_id", "text", 3, 16, 4)
    val inc = Dedup.incrementalMinhashPairs(incDf, sigs, "doc_id", "text", 3, 16, 4, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val full = Dedup.minhashPairs(baseDf.unionByName(incDf), "doc_id", "text", 3, 16, 4, 50)
      .filter(col("id_a") > 1000 || col("id_b") > 1000)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(inc == full && inc.nonEmpty)
    // every emitted pair touches the batch; no old-old pair regenerates
    assert(inc.forall(p => p._1 > 1000 || p._2 > 1000))
  }

  test("sig-verified incremental pairs: slim store, bounded recall vs exact") {
    // 60 base docs; incoming = tail-mutated copies of every 3rd (high
    // true Jaccard) plus two unrelated docs (true negatives)
    val base = (1 to 60).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta iota kappa token$i num$i"))
    val incoming = base.filter(_._1 % 3 == 0)
      .map { case (id, t) => (id + 1000, t + " zz qq") } ++
      Seq((2001L, "wholly different content nothing shared with the corpus at all"),
          (2002L, "another disjoint document sharing zero tokens with anything"))
    val baseDf = base.toDF("doc_id", "text")
    val incDf = incoming.toDF("doc_id", "text")
    val full = Dedup.minhashSignatures(baseDf, "doc_id", "text", 3, 16, 4)
    val store = Dedup.sigOnly(full, "doc_id", 4)
    assert(!store.columns.contains("sh"), "sig store must not carry shingle arrays")
    val newSigs = Dedup.sigOnly(
      Dedup.minhashSignatures(incDf, "doc_id", "text", 3, 16, 4), "doc_id", 4)
    val sigPairs = Dedup.incrementalPairsBySig(newSigs, store, "doc_id", 16, 4, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // ground truth: exact-Jaccard verification over the same candidates.
    // The recall bound is claimed for SOLID near-dups (J >= 0.70) —
    // pairs sitting at the 0.50 threshold agree on ~8/16 slots only
    // half the time by construction (binomial estimation noise), so
    // bounding recall there would test the coin, not the operator.
    val exactPairs = Dedup.incrementalMinhashPairs(incDf, full,
        "doc_id", "text", 3, 16, 4, 50)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val solid = exactPairs.collect { case (a, b, j) if j >= 70 => (a, b) }.toSet
    val recalled = solid.intersect(sigPairs)
    assert(solid.nonEmpty)
    assert(recalled.size.toDouble / solid.size >= 0.9,
      s"sig-estimate recall ${recalled.size}/${solid.size} below 0.9")
    // the unrelated docs never pair with the corpus
    assert(!sigPairs.exists(p => p._1 >= 2000L || p._2 >= 2000L))
    // agreement fraction is an unbiased Jaccard estimate: on EXACT
    // duplicates it must be exactly 16/16
    val dupSig = Dedup.sigOnly(
      Dedup.minhashSignatures(Seq((9001L, base.head._2)).toDF("doc_id", "text"),
        "doc_id", "text", 3, 16, 4), "doc_id", 4)
    val agree = Dedup.incrementalPairsBySig(dupSig, store, "doc_id", 16, 4, 50)
      .filter(col("id_b") === 9001L && col("id_a") === 1L)
      .select("n_agree").collect().map(_.getInt(0))
    assert(agree.toSeq == Seq(16))
  }

  test("native long-array jaccard equals declarative distinct jaccard") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(300)
      .select($"doc_id", graft.plans.ShingleHashes64.column($"text", 3).as("sh"))
    val pairs = docs.join(
      docs.select(($"doc_id" + 1).as("doc_id"), $"sh".as("sh2")), "doc_id")
    val bad = pairs.select(
        graft.plans.JaccardLong100.column($"sh", $"sh2").as("nat"),
        graft.functions.Hashing.jaccard100(
          array_distinct($"sh"), array_distinct($"sh2")).as("dec"))
      .filter($"nat" =!= $"dec").count()
    assert(bad == 0, "native jaccard diverges from declarative")
  }

  test("wordShingles kernel bitwise-equals the declarative twin (corpus + edges)") {
    // edges: null, empty, single token, space runs (empty tokens kept),
    // exactly k tokens, multi-byte UTF-8, leading/trailing spaces
    val edges = Seq(
      null, "", "one", "one two", "one two three", "a  b", " lead trail ",
      "日本語 の テキスト です", "x " * 20 + "y")
      .toDF("text")
    val corpus = spark.read.parquet(s"$sf/documents.parquet").select($"text")
    for (k <- Seq(1, 2, 3, 7)) {
      val bad = edges.union(corpus).select(
          graft.functions.Hashing.shingles($"text", k).as("nat"),
          graft.functions.HashingTwin.shinglesDeclarative($"text", k).as("dec"))
        .filter(!($"nat" <=> $"dec")).count()
      assert(bad == 0, s"wordShingles($k) diverged from twin")
    }
  }

  test("native shingle-hash expression equals declarative chain") {
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select($"text").limit(200)
      .unionByName(Seq("", "one", "one two", "a  b", " lead trail ").toDF("text"))
    for (k <- Seq(1, 3, 7)) {
      val bad = texts.select(
          graft.plans.ShingleHashes64.column($"text", k).as("nat"),
          graft.functions.Hashing.shingleHashes(
            graft.functions.HashingTwin.shinglesDeclarative($"text", k)).as("dec"))
        .filter($"nat" =!= $"dec").count()
      assert(bad == 0, s"shingle hashes diverge at k=$k")
    }
  }

  test("native simhash kernels equal declarative chain") {
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select($"text").limit(200)
      .unionByName(Seq("", "one", "a b c").toDF("text"))
    val bad = texts.select(
        graft.plans.SimHash64.column(
          graft.plans.ShingleHashes64.tokenColumn($"text"), 48).as("nat"),
        graft.functions.Hashing.simhashFromHashes(
          graft.functions.Hashing.tokenHashes($"text"), 48).as("dec"))
      .filter($"nat" =!= $"dec").count()
    assert(bad == 0, "native simhash diverges from declarative")
  }

  test("simhash near-dup: planted mutation found, unrelated not") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " * 5
    val df = Seq((1L, base), (2L, base + " tail mut"),
      (3L, "totally different content with other words entirely now")).toDF("id", "text")
    val pairs = Dedup.simhashNearDup(df, "id", "text", 48, 4, 12)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("simhash: near-identical texts have small hamming distance") {
    val df = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (2L, "alpha beta gamma delta epsilon zeta eta iota"),
      (3L, "one two three four five six seven eight")).toDF("id", "text")
    val m = Dedup.simhashes(df, "id", "text", 32)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(m(1L), m(2L)) < ham(m(1L), m(3L)))
  }

  test("keep-first dedup (reference ON CONFLICT DO NOTHING semantics)") {
    val df = Seq(("a", 3L, "x3"), ("a", 1L, "x1"), ("b", 2L, "x2")).toDF("abn", "arrival", "v")
    val out = Dedup.keepFirst(df, "abn", "arrival")
      .collect().map(r => r.getString(0) -> r.getString(2)).toMap
    assert(out == Map("a" -> "x1", "b" -> "x2"))
  }

  test("minhash pair enrichment: forced-shuffle plan equals broadcast plan") {
    // the enrichment joins are unhinted (AQE picks broadcast when the
    // pair list is small, shuffle when it is not) — prove the
    // shuffle-join shape a dup-heavy corpus would get returns exactly
    // the broadcast-shape results
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", $"text").limit(200)
    val withMut = docs.unionByName(
      docs.select(($"doc_id" + 100000).as("doc_id"), concat($"text", lit(" zz qq")).as("text")))
    def run() =
      Dedup.minhashPairs(withMut, "doc_id", "text", 3, 16, 4, 50)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val viaBroadcast = run()
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val viaShuffle = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      run()
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert(viaBroadcast.nonEmpty, "no candidate pairs found at all")
    assert(viaShuffle == viaBroadcast, "shuffle plan diverges from broadcast plan")
  }

  test("d5 LSH-bucket blocking recalls the planted near-dup pairs") {
    // the oracle only proves both engines agree on the blocked result;
    // this bounds what the blocking GIVES UP vs the exhaustive pair set
    val sfDir = sf
    val blocked = graft.queries.DedupQueries.queries("d5_embedding_neardup")(spark, sfDir)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    // ground truth: every vec is near-dup of its +100000 mutation
    val planted = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id").as[Long].collect().map(i => (i, i + 100000L)).toSet
    val recall = (planted intersect blocked).size.toDouble / planted.size
    assert(recall >= 0.95, s"LSH blocking recall $recall below 0.95 (found ${blocked.size} pairs)")
  }

  test("d10 PQ-screened near-dup: recall vs the exact d5 verifier") {
    // d10 adds a compressed screen between blocking and the exact
    // cosine test — it can only LOSE pairs whose PQ distortion exceeds
    // the margin; this measures that loss against d5's exact result
    val exact = graft.queries.DedupQueries.queries("d5_embedding_neardup")(spark, sf)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val pq = graft.queries.DedupQueries.queries("d10_pq_neardup")(spark, sf)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pq.subsetOf(exact),
      "PQ screen must only remove candidates — final exact filter is the same")
    val recall = (exact intersect pq).size.toDouble / math.max(1, exact.size)
    assert(recall >= 0.9,
      s"PQ-screen recall $recall below 0.9 (${pq.size}/${exact.size} pairs)")
  }

  test("d10 scaled geometry: integer bits rule + exact-verified pairs vs brute force") {
    import graft.operators.SimilaritySearch.scaledLshBits
    // The corpus-sizing rule, integer-exact (smallest b with
    // 2^b >= ceil(2n/16), floored at 4) — same values the DuckDB
    // oracle's greatest(4, length(bin(target-1))) derives, incl. the
    // power-of-two boundaries where a float log2 could mis-round.
    assert(scaledLshBits(8) == 4)        // tiny corpus: floor binds
    assert(scaledLshBits(100) == 4)
    assert(scaledLshBits(1000) == 7)     // sf0.01 universe
    assert(scaledLshBits(1024) == 7)     // target exactly 128 = 2^7
    assert(scaledLshBits(1025) == 8)     // one past the boundary
    assert(scaledLshBits(200000) == 15)  // the x100 cell SCALE.md measured
    // Scaled banding changes CANDIDATES (coarser or finer buckets than
    // the pinned bits=8) but never the verifier: every emitted pair
    // must be a true >= 0.9 cosine pair of the universe.
    val uni = graft.queries.DedupQueries.embeddingUniverse(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      if (na == 0.0 || nb == 0.0) 0.0 else d / (math.sqrt(na) * math.sqrt(nb))
    }
    val truth = (for {
      (ia, va) <- uni.toSeq; (ib, vb) <- uni.toSeq
      if ia < ib && cos(va, vb) >= 0.9
    } yield (ia, ib)).toSet
    val scaled = graft.queries.DedupQueries.queries("d10_pq_neardup_scaled")(spark, sf)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(scaled.subsetOf(truth), "scaled d10 emitted a sub-threshold pair")
    val recall = (truth intersect scaled).size.toDouble / math.max(1, truth.size)
    assert(recall >= 0.9, s"scaled-geometry recall $recall below 0.9")
  }

  test("d10 candidate cap keeps a super-cap clique connected for clustering") {
    // The cap's dedup contract: pqNearDupPairs' asymmetric join (probe
    // side uncapped, candidate side capped) means every member of a
    // hot bucket still probes the bucket's KEPT members — so a clique
    // larger than the cap loses redundant intra-clique edges but never
    // its connectivity, which is all the downstream c-family
    // clustering consumes. Plant a 120-member clique (identical
    // vectors, one bucket per table), cap at 8, refinement ON (the
    // declared d10_scaled config): identical vectors agree on every
    // extension sign, so the hot bucket refuses to split and the flat
    // cap is the operative last resort — the pair graph must still
    // span all 120 ids in ONE component at far fewer than n² edges.
    val n = 120
    val clique = spark.range(n).select($"id".as("vec_id"),
      array_repeat(lit(1.0), 16).as("vec"))
    val pairs = graft.operators.SimilaritySearch.pqNearDupPairs(
        clique, "vec_id", "vec", dim = 16, threshold = 0.9, margin = 0.15,
        bits = 4, tables = 2, maxBucket = 8, refineBits = 8)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(pairs.length < n.toLong * (n - 1) / 2 / 2,
      s"cap did not bound the clique's pair volume: ${pairs.length}")
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrElse(x, x) != x) {
        val p = parent(x); parent(x) = parent.getOrElse(p, p); x = parent(x)
      }
      x
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(ra) = rb
    }
    val roots = (0L until n).map(find).toSet
    assert(roots.size == 1,
      s"cap disconnected the clique into ${roots.size} components")
  }

  test("d10 hot-bucket refinement recovers near-dup pairs a flat cap drops") {
    // A hot bucket of DISTINCT near-dup pairs — the case where the flat
    // cap loses evidence (measured 0.794 pair recall at x100) and
    // refinement is the cure: one-hot base vectors chosen on dims whose
    // plane-0 component is positive all share base bucket 1 at bits=1,
    // each paired with a +0.05-mutated twin (cosine ~0.9997). With
    // cap=2 the flat config keeps 2 of the bucket's members, so at most
    // 2 of the pairs can survive; refinement re-keys the bucket by the
    // extension signs, which DIFFER across unrelated one-hot vectors
    // but mostly agree within a mutated pair.
    val posDims = (1 to 16).filter(i =>
      ((i.toLong * 2654435761L) % 1997L - 998L) > 0)
    assert(posDims.size >= 6, s"test precondition: enough positive dims")
    val rows = posDims.zipWithIndex.flatMap { case (dim, k) =>
      val base = Array.tabulate(16)(i => if (i + 1 == dim) 1.0 else 0.0)
      val mut = base.clone(); mut(dim % 16) += 0.05
      Seq((k.toLong * 2, base.toSeq), (k.toLong * 2 + 1, mut.toSeq))
    }.toDF("vec_id", "vec")
    val truth = posDims.indices.map(k => (k.toLong * 2, k.toLong * 2 + 1)).toSet
    def run(refine: Int) = graft.operators.SimilaritySearch.pqNearDupPairs(
        rows, "vec_id", "vec", dim = 16, threshold = 0.9, margin = 0.15,
        bits = 1, tables = 1, m = 4, maxBucket = 2, refineBits = refine)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    val flat = run(0); val refined = run(8)
    assert(refined.subsetOf(truth) && flat.subsetOf(truth),
      "capped outputs must stay subsets of the true pair set")
    assert(flat.size <= 2, s"flat cap=2 cannot keep >2 pairs, got ${flat.size}")
    assert(refined.size > flat.size,
      s"refinement must recover pairs the flat cap drops: ${refined.size} vs ${flat.size}")
    assert(refined.size >= truth.size - 1,
      s"refinement recall too low: ${refined.size}/${truth.size}")
  }

  test("charNgrams kernel bitwise-equals the declarative twin (corpus + edges)") {
    import graft.functions.{Hashing, HashingTwin}
    // edges: null, empty, shorter-than-n, exactly n, multi-byte UTF-8
    // (code-point substr semantics), longer than maxLen, space runs,
    // all-duplicate grams
    val edges = Seq(
      null, "", "a", "ab", "abc", "abcd", "日本語のテキストです確認用",
      "aaaaaaaaaa", "x y z w", ("long" * 40) + " tail beyond the maxLen cut")
      .toDF("t")
    val corpus = spark.read.parquet(s"$sf/documents.parquet").select($"text".as("t"))
    for ((n, maxLen) <- Seq((3, 60), (1, 5), (4, 4))) {
      val mismatched = edges.union(corpus).select(
        Hashing.charNgrams($"t", n, maxLen).as("k"),
        HashingTwin.charNgramsDeclarative($"t", n, maxLen).as("d"))
        .filter(!($"k" <=> $"d"))
      assert(mismatched.count() == 0, s"charNgrams($n, $maxLen) diverged from twin")
    }
  }

  test("ngram jaccard: identical=100, disjoint=0") {
    val pairs = Seq(("abcdef", "abcdef"), ("abcdef", "uvwxyz")).toDF("text_a", "text_b")
    val out = Dedup.ngramJaccard(pairs, "text_a", "text_b", 3, 60)
      .select($"ngram_jaccard100").as[Int].collect().toSeq
    assert(out == Seq(100, 0))
  }

  test("containmentPairs finds fragments; equals brute-force on random corpus") {
    // planted: doc 10 is a verbatim fragment of doc 1; doc 20 shares
    // words but not all trigrams
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta"),
      (10L, "beta gamma delta epsilon"),
      (20L, "alpha beta epsilon zeta"),
      (2L, "totally unrelated words live here now")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(docs, "doc_id", "text", 3)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((10L, 1L)))

    // randomized brute-force equivalence (small vocab → real accidental
    // containments both ways)
    val rnd = new scala.util.Random(31)
    val vocab = Vector("x", "y", "z", "w")
    val corpus = (1 to 80).map { i =>
      val n = 3 + rnd.nextInt(8)
      (i.toLong, Vector.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    def gramSet(t: String): Set[String] = {
      val toks = t.split(" ", -1)
      if (toks.length >= 3)
        (0 to toks.length - 3).map(i => toks.slice(i, i + 3).mkString(" ")).toSet
      else Set(t)
    }
    val want = (for {
      (ia, ta) <- corpus; (ib, tb) <- corpus
      if ia != ib && gramSet(ta).subsetOf(gramSet(tb))
    } yield (ia, ib)).toSet
    val got2 = Dedup.containmentPairs(corpus.toDF("doc_id", "text"), "doc_id", "text", 3)
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got2 == want)
  }

  test("spanDedup scrubs later occurrences on the grid, keeps first, reassembles in order") {
    val docs = Seq(
      (1L, "a b c d a b"), // span 2 repeats span 0 intra-doc
      (2L, "c d x"),       // "c d" lost to (1,1); short tail span "x" survives
      (3L, "a b c d"),     // pasted from doc 1's spans — scrubs to ""
      (4L, null.asInstanceOf[String])) // null text: one "" span, unique
      .toDF("doc_id", "text")
    val out = Dedup.spanDedup(docs, "doc_id", "text", 2)
      .orderBy($"doc_id")
      .as[(Long, Int, Int, String)].collect().toSeq
    assert(out == Seq(
      (1L, 3, 2, "a b c d"),
      (2L, 2, 1, "x"),
      (3L, 2, 0, ""),
      (4L, 1, 1, "")))
  }

  test("spanDedup equals brute-force keep-first on a random small-vocab corpus") {
    val rnd = new scala.util.Random(47)
    val vocab = Vector("p", "q", "r")
    val corpus = (1 to 60).map { i =>
      val n = 1 + rnd.nextInt(9)
      (i.toLong, Vector.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val span = 3
    def spansOf(t: String): Vector[(Int, String)] = {
      val toks = t.split(" ", -1).toVector
      (0 until toks.length by span).zipWithIndex
        .map { case (s, idx) => (idx, toks.slice(s, s + span).mkString(" ")) }.toVector
    }
    val all = corpus.flatMap { case (id, t) =>
      spansOf(t).map { case (idx, st) => (id, idx, st) } }
    val firstOf = all.groupBy(_._3).map { case (st, occ) =>
      st -> occ.map(o => (o._1, o._2)).min }
    val want = corpus.map { case (id, t) =>
      val sp = spansOf(t)
      val kept = sp.filter { case (idx, st) => firstOf(st) == (id, idx) }
      (id, sp.size, kept.size, kept.map(_._2).mkString(" "))
    }.toSet
    val got = Dedup.spanDedup(corpus.toDF("doc_id", "text"), "doc_id", "text", span)
      .as[(Long, Int, Int, String)].collect().toSet
    assert(got == want)
  }

  test("incremental span dedup equals the full recompute restricted to the batch") {
    val rnd = new scala.util.Random(53)
    val vocab = Vector("p", "q", "r")
    def mk(ids: Range): Seq[(Long, String)] = ids.map { i =>
      val n = 1 + rnd.nextInt(9)
      (i.toLong, Vector.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    val span = 3
    val corpus = mk(1 to 50)
    // batch ids sort AFTER corpus ids — the precondition the operator
    // documents for keep-first equivalence
    val batch = mk(100 to 130)
    val store = Dedup.spanStore(corpus.toDF("doc_id", "text"), "doc_id", "text", span)
    val inc = Dedup.incrementalSpanDedup(
        batch.toDF("doc_id", "text"), store, "doc_id", "text", span)
      .as[(Long, Int, Int, String)].collect().toSet
    val full = Dedup.spanDedup(
        (corpus ++ batch).toDF("doc_id", "text"), "doc_id", "text", span)
      .filter($"doc_id" >= 100)
      .as[(Long, Int, Int, String)].collect().toSet
    assert(inc == full)
    // the store delta holds exactly the batch's surviving span hashes,
    // disjoint from the store
    val delta = Dedup.freshSpanWinners(
        batch.toDF("doc_id", "text"), store, "doc_id", "text", span)
      .select($"span_md5")
    assert(delta.join(store, Seq("span_md5")).count() == 0)
    assert(delta.distinct().count() == delta.count())
  }

  test("winnowing: any w+k-1-token overlap shares a fingerprint; brute-force equality") {
    val (k, w) = (3, 4)
    // doc 30 pastes a mid-doc fragment of doc 1 (offset 3, length 8
    // tokens >= w+k-1 = 6) between unrelated content — minhash-invisible
    val d1 = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12"
    val d30 = "z1 z2 a4 a5 a6 a7 a8 a9 a10 a11 z3 z4"
    val d2 = "b1 b2 b3 b4 b5 b6 b7 b8 b9 b10"
    val docs = Seq((1L, d1), (30L, d30), (2L, d2)).toDF("doc_id", "text")
    val pairs = Dedup.winnowingOverlap(docs, "doc_id", "text", k, w,
        minShared = 1, fpDfCap = 100)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 30L)), s"got $pairs")

    // randomized brute-force equality of the fingerprint sets
    val rnd = new scala.util.Random(71)
    val vocab = Vector("x", "y", "z", "w", "v")
    val corpus = (1 to 60).map { i =>
      val n = 1 + rnd.nextInt(12)
      (i.toLong, Vector.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    def md5_60(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(8).map(b => f"${b & 0xff}%02x").mkString
        .take(15), 16)
    }
    val want = corpus.flatMap { case (id, t) =>
      val toks = t.split(" ", -1).toVector
      val grams = if (toks.length >= k)
        (0 to toks.length - k).map(i => toks.slice(i, i + k).mkString(" ")).toVector
      else Vector(t)
      val hs = grams.map(md5_60)
      val wins =
        if (hs.length <= w) Vector(hs.min)
        else (0 to hs.length - w).map(i => hs.slice(i, i + w).min).toVector
      wins.distinct.map(id -> _)
    }.toSet
    val got = Dedup.winnowedFingerprints(corpus.toDF("doc_id", "text"),
        "doc_id", "text", k, w)
      .as[(Long, Long)].collect().toSet
    assert(got == want)
  }

  test("substring scrub: later occurrences vanish at any offset, first survives") {
    val k = 3
    // d2 copies a mid-doc 5-token run of d1 at a different offset, with
    // unique flanks; d3 repeats its own opening inside itself; d4/d5
    // are identical short docs (< k tokens -> whole-text gram)
    val d1 = "a1 a2 a3 a4 a5 a6 a7 a8"
    val d2 = "z1 z2 a3 a4 a5 a6 a7 z3"
    val d3 = "r1 r2 r3 x1 r1 r2 r3"
    val docs = Seq((1L, d1), (2L, d2), (3L, d3), (4L, "s t"), (5L, "s t"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupSubstrings(docs, "doc_id", "text", k)
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // d1 is first everywhere -> untouched
    assert(got(1L) == ((8, 8, d1)))
    // d2's copied run a3..a7 covers positions 2..6 (grams at 2,3,4);
    // z-flanks survive
    assert(got(2L) == ((8, 3, "z1 z2 z3")))
    // d3's second "r1 r2 r3" (positions 4..6) scrubs; opening + x1 stay
    assert(got(3L) == ((7, 4, "r1 r2 r3 x1")))
    // duplicate short docs: first kept whole, second scrubbed empty
    assert(got(4L) == ((2, 2, "s t")))
    assert(got(5L) == ((2, 0, "")))
  }

  test("substring scrub equals a driver-side reference on nasty corpora") {
    val k = 2
    val tok = org.scalacheck.Gen.oneOf("a", "b", "c", "汉", "x'y")
    val doc = org.scalacheck.Gen.frequency(
      6 -> org.scalacheck.Gen.choose(0, 12).flatMap(n =>
        org.scalacheck.Gen.listOfN(n, tok).map(_.mkString(" "))),
      1 -> org.scalacheck.Gen.const(""),
      1 -> org.scalacheck.Gen.const("  a  b  "))
    val texts = Fuzz.draw(org.scalacheck.Gen.listOfN(100, doc)) ++ Seq("a", "a b", "a b")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    def toks(t: String) = t.split(" ", -1).toVector
    def gramsOf(t: String): Vector[(Int, String)] = {
      val tk = toks(t)
      if (tk.length >= k)
        (0 to tk.length - k).map(i => i -> tk.slice(i, i + k).mkString(" ")).toVector
      else Vector(0 -> t)
    }
    // first-occurrence rule over gram STRINGS (hash-free reference)
    val all = docs.flatMap { case (id, t) => gramsOf(t).map { case (p, g) => (g, id, p) } }
    val first = all.groupBy(_._1).map { case (g, os) => g -> os.map(o => (o._2, o._3)).min }
    val occ = all.groupBy(_._1).map { case (g, os) => g -> os.size }
    val want = docs.map { case (id, t) =>
      val tk = toks(t)
      val cov = gramsOf(t).collect {
        case (p, g) if occ(g) > 1 && first(g) != ((id, p)) =>
          (p until math.min(p + k, tk.length))
      }.flatten.toSet
      val kept = tk.zipWithIndex.collect { case (w, i) if !cov(i) => w }
      (id, tk.length, kept.length, kept.mkString(" "))
    }.toSet
    val got = Dedup.dedupSubstrings(docs.toDF("doc_id", "text"), "doc_id", "text", k)
      .as[(Long, Int, Int, String)].collect().toSet
    if (got != want) {
      val path = Fuzz.persist("substring-scrub-failing-corpus", texts)
      fail(s"seed=${Fuzz.seed} corpus=$path: " +
        s"${(got diff want).take(3)} extra; ${(want diff got).take(3)} missing")
    }
  }

  test("incremental substring scrub equals the full recompute on random splits") {
    val k = 2
    val rnd = new scala.util.Random(1031)
    val vocab = Vector("m", "n", "o", "p", "q")
    def randDoc() =
      Vector.fill(rnd.nextInt(10))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    // corpus ids < batch ids — the contract under which delta == full
    val corpus = (1L to 40L).map(_ -> randDoc())
    val batch = (101L to 125L).map(_ -> randDoc())
    val corpusDf = corpus.toDF("doc_id", "text")
    val batchDf = batch.toDF("doc_id", "text")
    val store = Dedup.substringGramStore(corpusDf, "text", k)
    val got = Dedup.incrementalSubstringScrub(batchDf, store, "doc_id", "text", k)
      .as[(Long, Int, Int, String)].collect().toSet
    val want = Dedup.dedupSubstrings(
        corpusDf.unionByName(batchDf), "doc_id", "text", k)
      .filter($"doc_id" >= 101L)
      .as[(Long, Int, Int, String)].collect().toSet
    assert(got == want,
      s"${(got diff want).take(3)} extra; ${(want diff got).take(3)} missing")
  }

  test("incremental substring scrub equals the full recompute on NULL and empty text") {
    // dedupSubstrings coalesces NULL to "" before gram computation; the
    // incremental gram path must do the same or a NULL-text corpus
    // doc's empty-text gram never enters the store and an empty-text
    // batch doc wrongly survives
    val k = 2
    val corpusDf = Seq((1L, Option.empty[String]), (2L, Some("a b c")))
      .toDF("doc_id", "text")
    val batchDf = Seq((101L, Some("")), (102L, Some("a b c")),
      (103L, Option.empty[String])).toDF("doc_id", "text")
    val store = Dedup.substringGramStore(corpusDf, "text", k)
    val got = Dedup.incrementalSubstringScrub(batchDf, store, "doc_id", "text", k)
      .as[(Long, Int, Int, String)].collect().toSet
    val want = Dedup.dedupSubstrings(
        corpusDf.unionByName(batchDf), "doc_id", "text", k)
      .filter($"doc_id" >= 101L)
      .as[(Long, Int, Int, String)].collect().toSet
    assert(got == want,
      s"${(got diff want).take(3)} extra; ${(want diff got).take(3)} missing")
  }

  test("exactDedup: NULL and empty text are one duplicate class with one keeper") {
    val docs = Seq((1L, Option.empty[String]), (2L, Option.empty[String]),
      (3L, Some("")), (4L, Some("x"))).toDF("doc_id", "text")
    val out = Dedup.exactDedup(docs, "doc_id", "text")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 2, s"expected 2 classes, got ${out.toSeq}")
    val empties = out.filter(_._2 == 1L)
    assert(empties.length == 1 && empties.head._3 == 3L,
      s"null/empty must merge under keeper 1 with 3 copies: ${out.toSeq}")
    assert(out.forall(_._1 != null), "content_hash must never be NULL")
  }

  test("incremental winnowing overlap equals the full recompute on random splits") {
    val (k, w) = (2, 3)
    val rnd = new scala.util.Random(977)
    val vocab = Vector("g", "h", "i", "j")
    def randDoc() =
      Vector.fill(1 + rnd.nextInt(9))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    val corpus = (1L to 35L).map(_ -> randDoc())
    val batch = (201L to 220L).map(_ -> randDoc())
    val corpusDf = corpus.toDF("doc_id", "text")
    val batchDf = batch.toDF("doc_id", "text")
    val store = Dedup.winnowedFingerprints(corpusDf, "doc_id", "text", k, w)
    val got = Dedup.incrementalWinnowingOverlap(batchDf, store,
        "doc_id", "text", k, w, minShared = 1, fpDfCap = 12)
      .as[(Long, Long, Long)].collect().toSet
    // full recompute restricted to pairs touching the batch (batch ids
    // sort above corpus ids, so the larger pair member decides)
    val want = Dedup.winnowingOverlap(corpusDf.unionByName(batchDf),
        "doc_id", "text", k, w, minShared = 1, fpDfCap = 12)
      .filter($"id_b" >= 201L)
      .as[(Long, Long, Long)].collect().toSet
    assert(got == want,
      s"${(got diff want).take(3)} extra; ${(want diff got).take(3)} missing")
  }

  test("substring scrub: a 200-doc boilerplate gram keeps exactly its first copy") {
    // the duplication-mass path: one k-gram shared by every doc — the
    // partial argmin must collapse it to one winner, and only doc 1
    // (minimal id) keeps the template tokens
    val k = 3
    val docs = (1L to 200L).map(i => (i, s"t1 t2 t3 u$i"))
      .toDF("doc_id", "text")
    val got = Dedup.dedupSubstrings(docs, "doc_id", "text", k)
      .as[(Long, Int, Int, String)].collect()
      .map(r => r._1 -> ((r._3, r._4))).toMap
    assert(got(1L) == ((4, "t1 t2 t3 u1")))
    // every later doc loses the template but keeps its unique tail
    // (grams "t2 t3 uI" / "t3 uI" windows differ per doc, so only the
    // shared "t1 t2 t3" occurrence scrubs positions 0..2)
    for (i <- 2L to 200L)
      assert(got(i) == ((1, s"u$i")), s"doc $i: ${got(i)}")
  }

  test("winnowingOverlap drops corpus-ubiquitous fingerprints at the df cap") {
    // every doc shares the template text → its fingerprints have df =
    // 40 > cap; the planted pair shares UNIQUE content and survives
    val template = "t1 t2 t3 t4 t5 t6 t7 t8"
    val docs = ((1 to 38).map(i => (i.toLong, s"$template u${i}a u${i}b")) ++
      Seq((50L, s"$template s1 s2 s3 s4 s5 s6 s7"),
          (51L, s"q1 q2 s1 s2 s3 s4 s5 s6 s7"))).toDF("doc_id", "text")
    val pairs = Dedup.winnowingOverlap(docs, "doc_id", "text", 3, 4,
        minShared = 1, fpDfCap = 10)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((50L, 51L)),
      s"template fingerprints must be capped out, unique overlap kept: $pairs")
  }

  test("p8 leakage-safe split: every near-dup cluster lands in exactly one split") {
    val assigned = graft.queries.DedupQueries.queries("p8_leakage_safe_split")(spark, sf)
    // all members of a rep share its split by construction; the real
    // invariant is that CLUSTERED docs got their cluster min as rep —
    // i.e. a doc and its +100000 mutation never straddle splits
    val byDoc = assigned.select($"doc_id", $"split").as[(Long, String)].collect().toMap
    val planted = byDoc.keys.filter(_ < 100000).toSeq
    val leaked = planted.filter(id => byDoc.get(id + 100000).exists(_ != byDoc(id)))
    // leakage is bounded by the upstream LSH pairing recall (the d5/d2
    // recall tests bound that); a DETECTED pair can never leak
    assert(leaked.size <= math.max(1, planted.size / 20),
      s"split leakage ${leaked.size}/${planted.size} exceeds the LSH recall bound: ${leaked.take(5)}")
    // and the split is the p1 arithmetic on the rep key
    val perRep = assigned.select($"rep", $"split").distinct()
      .groupBy($"rep").count().filter($"count" > 1).count()
    assert(perRep == 0, "a rep key mapped to more than one split")
  }

  test("pairsFromSigs bucket cap: no-op when loose, subset + linear bound on a clone bomb") {
    // clone bomb: 120 identical docs (every band bucket holds all of
    // them → uncapped pair volume is C(120,2) through single keys)
    // plus planted near-dup pairs among distinct docs
    val clones = (1 to 120).map(i =>
      (i.toLong, "same boilerplate template text repeated verbatim every page footer"))
    val distinctDocs = (1 to 30).map(i =>
      (1000L + i, s"unique document number$i with words alpha$i beta$i gamma$i delta$i"))
    val planted = distinctDocs.take(10).map { case (id, t) => (id + 500, t + " tail") }
    val df = (clones ++ distinctDocs ++ planted).toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(df, "doc_id", "text", 3, 16, 4)
      .localCheckpoint(true)
    def run(cap: Option[Int]) =
      Dedup.pairsFromSigs(sigs, "doc_id", 4, 50, maxBucket = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = run(None)
    assert(run(Some(10000)) == uncapped, "non-binding cap changed the pair list")
    val capped = run(Some(8))
    assert(capped.subsetOf(uncapped), "cap invented pairs")
    // linear bound: each of the 4 band buckets contributes at most
    // C(8,2)=28 clone pairs — far under the 7140 uncapped clone pairs
    val clonePairsUncapped = uncapped.count { case (a, b) => a <= 120 && b <= 120 }
    val clonePairsCapped = capped.count { case (a, b) => a <= 120 && b <= 120 }
    assert(clonePairsUncapped == 120 * 119 / 2)
    assert(clonePairsCapped <= 4 * 28 && clonePairsCapped > 0,
      s"capped clone pairs out of bounds: $clonePairsCapped")
    // recall outside the degenerate mass: planted near-dup pairs live
    // in small buckets the cap never touches
    val plantedPairs = uncapped.filter { case (a, b) => a > 1000 && b > 1000 }
    assert(plantedPairs.nonEmpty && plantedPairs.subsetOf(capped),
      "cap evicted pairs from healthy small buckets")
  }

  test("simhashNearDup bucket cap: subset semantics and bounded clone buckets") {
    val clones = (1 to 80).map(i =>
      (i.toLong, "identical spam body repeated across the whole crawl daily"))
    val distinctDocs = (1 to 20).map(i =>
      (1000L + i, s"document $i carries its own distinct vocabulary line$i word$i"))
    val df = (clones ++ distinctDocs).toDF("id", "text")
    def run(cap: Option[Int]) =
      Dedup.simhashNearDup(df, "id", "text", 48, 4, 12, maxBucket = cap)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val uncapped = run(None)
    assert(run(Some(5000)) == uncapped, "non-binding cap changed the pair list")
    val capped = run(Some(6))
    assert(capped.subsetOf(uncapped), "cap invented pairs")
    val cloneUncapped = uncapped.count { case (a, b) => a <= 80 && b <= 80 }
    val cloneCapped = capped.count { case (a, b) => a <= 80 && b <= 80 }
    assert(cloneUncapped == 80 * 79 / 2)
    assert(cloneCapped <= 4 * 15 && cloneCapped > 0,
      s"capped clone pairs out of bounds: $cloneCapped")
  }
}
