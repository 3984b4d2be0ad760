package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Static entry points for the kernel expressions' generated code.
  *
  * Every kernel in this package implements `doGenCode` by emitting a
  * single call into this object — the generated Java stays a one-liner
  * inside the whole-stage loop (no interpreted-eval boundary, no
  * InternalRow materialization, no boxing), while the scalar logic
  * lives here as ordinary JIT-compiled Scala shared bit-for-bit with
  * the interpreted `eval` path (which delegates to the same methods).
  *
  * A standalone object with NO companion class: scalac then emits
  * static forwarders on class `graft.plans.KernelOps`, so janino
  * resolves `graft.plans.KernelOps.winnow(...)` as a plain static
  * call — no `MODULE$` indirection in the generated source.
  */
object KernelOps {
  import ShingleHashes64.{digest, hash60, M31}

  /** [[ShingleHashes64]]: word-k-shingle 60-bit hashes (optionally
    * reduced mod 2³¹−1) in one pass. */
  def shingleHashes(text0: UTF8String, k: Int, modM31: Boolean): ArrayData = {
    val text = text0.toString
    val toks = text.split(" ", -1)
    val md = digest.get()
    @inline def reduce(h: Long): Long = if (modM31) h % M31 else h
    if (toks.length >= k) {
      val n = toks.length - k + 1
      val out = new Array[Long](n)
      val sb = new java.lang.StringBuilder(64)
      var i = 0
      while (i < n) {
        sb.setLength(0)
        var j = 0
        while (j < k) {
          if (j > 0) sb.append(' ')
          sb.append(toks(i + j))
          j += 1
        }
        out(i) = reduce(hash60(md, sb.toString))
        i += 1
      }
      new GenericArrayData(out)
    } else {
      new GenericArrayData(Array(reduce(hash60(md, text))))
    }
  }

  /** [[SimHash64]]: simhash of per-token 60-bit hashes, `bits` wide. */
  def simhash(hs: ArrayData, bits: Int): Long = {
    val n = hs.numElements()
    val votes = new Array[Int](bits)
    var i = 0
    while (i < n) {
      val h = hs.getLong(i)
      var j = 0
      while (j < bits) {
        if (((h >>> j) & 1L) == 1L) votes(j) += 1 else votes(j) -= 1
        j += 1
      }
      i += 1
    }
    var sim = 0L
    var j = 0
    while (j < bits) {
      if (votes(j) > 0) sim |= (1L << j)
      j += 1
    }
    sim
  }

  /** [[WinnowFingerprints64]]: SIGMOD'03 winnowing — sliding-window
    * minima of the word-k-gram 60-bit hash stream (monotonic deque),
    * distinct, ascending. */
  def winnow(text0: UTF8String, k: Int, w: Int): ArrayData = {
    val text = text0.toString
    val toks = text.split(" ", -1)
    val md = digest.get()
    // gram-hash stream, identical to shingleHashes(k, modM31 = false)
    val hs: Array[Long] =
      if (toks.length >= k) {
        val n = toks.length - k + 1
        val out = new Array[Long](n)
        val sb = new java.lang.StringBuilder(64)
        var i = 0
        while (i < n) {
          sb.setLength(0)
          var j = 0
          while (j < k) {
            if (j > 0) sb.append(' ')
            sb.append(toks(i + j))
            j += 1
          }
          out(i) = hash60(md, sb.toString)
          i += 1
        }
        out
      } else Array(hash60(md, text))
    // sliding-window minima via a monotonic (increasing-value) deque of
    // positions; emit from the first full window (or the last position
    // when the whole stream is shorter than w)
    val n = hs.length
    val firstEmit = math.min(w, n) - 1
    val deque = new Array[Int](n)
    var head = 0
    var tail = 0 // exclusive
    val mins = new Array[Long](n - firstEmit)
    var m = 0
    var i = 0
    while (i < n) {
      while (tail > head && hs(deque(tail - 1)) >= hs(i)) tail -= 1
      deque(tail) = i
      tail += 1
      if (deque(head) < i - w + 1) head += 1
      if (i >= firstEmit) { mins(m) = hs(deque(head)); m += 1 }
      i += 1
    }
    // distinct + ascending
    java.util.Arrays.sort(mins)
    var d = 0
    i = 1
    while (i < mins.length) {
      if (mins(i) != mins(d)) { d += 1; mins(d) = mins(i) }
      i += 1
    }
    val nd = if (mins.isEmpty) 0 else d + 1
    new GenericArrayData(java.util.Arrays.copyOf(mins, nd))
  }

  /** [[MinHashSig]]: H-permutation minhash signature over precomputed
    * base hashes. */
  def minhashSig(hashes: ArrayData, numHashes: Int): ArrayData = {
    val n = hashes.numElements()
    // the declarative twin (array_min over an empty transform) yields
    // NULL signature elements here, which this kernel's
    // containsNull=false element type cannot represent — an all-zero
    // signature would instead band-collide every empty document
    // silently. Unreachable through the shipped operators (a shingle
    // stream always emits >= 1 gram, even for empty text); fail loudly
    // if a future caller breaks that contract.
    if (n == 0) throw new IllegalArgumentException(
      "minhash of an empty base-hash array is undefined — upstream " +
        "shingle streams always emit at least one gram")
    val sig = new Array[Long](numHashes)
    val M = M31
    var j = 0
    while (j < numHashes) {
      val a = (j + 1) * 999983L % M
      val b = j * 101L
      var min = Long.MaxValue
      var i = 0
      while (i < n) {
        val x = (a * hashes.getLong(i) + b) % M
        if (x < min) min = x
        i += 1
      }
      sig(j) = min
      j += 1
    }
    new GenericArrayData(sig)
  }

  /** [[JaccardLong100]]: Jaccard*100 between long arrays counting
    * distinct elements. */
  def jaccardLong100(l: ArrayData, r: ArrayData): Int = {
    val a = sortedDistinct(l)
    val b = sortedDistinct(r)
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      val c = java.lang.Long.compare(a(i), b(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 0
    else math.floor(inter.toDouble * 100 / union.toDouble).toInt
  }

  private def sortedDistinct(arr: ArrayData): Array[Long] = {
    val n = arr.numElements()
    val a = arr.toLongArray()
    // fast path: already sorted-distinct. minhashSignatures presorts
    // the persisted sh arrays for exactly this reason — the verify
    // stage calls jaccardLong100 once per CANDIDATE PAIR, and a doc in
    // a duplicate cluster of size c participates in O(c) pairs, paying
    // the O(n log n) sort per pair per side without the check.
    var sorted = true
    var i0 = 1
    while (sorted && i0 < n) {
      if (a(i0) <= a(i0 - 1)) sorted = false
      i0 += 1
    }
    if (sorted) return a
    java.util.Arrays.sort(a)
    var w = 0
    var i = 0
    while (i < n) {
      if (w == 0 || a(i) != a(w - 1)) { a(w) = a(i); w += 1 }
      i += 1
    }
    if (w == n) a else java.util.Arrays.copyOf(a, w)
  }

  /** [[RatioScore]]: exact levenshtein ratio (no qualifying floor). */
  def ratioScore(lu: UTF8String, ru: UTF8String): Int = {
    if (lu.numBytes != lu.numChars || ru.numBytes != ru.numChars) {
      // non-ASCII: defer to Spark's own char-level distance
      val ml = math.max(math.max(lu.numChars, ru.numChars), 1)
      val d = lu.levenshteinDistance(ru)
      math.floor(100.0 * (1.0 - d.toDouble / ml.toDouble)).toInt
    } else {
      val a = lu.getBytes
      val b = ru.getBytes
      val ml = math.max(math.max(a.length, b.length), 1)
      val d = FuzzyBestScore.boundedLevenshtein(a, b, ml)
      math.floor(100.0 * (1.0 - d.toDouble / ml.toDouble)).toInt
    }
  }

  /** [[FuzzyBestScore]]: adaptive-floor max over the four scoring
    * strategies (token-sort ratio, token-set ratio, plain ratio,
    * keyword Jaccard). */
  def fuzzyBest(lSorted: UTF8String, rSorted: UTF8String,
                lNorm: UTF8String, rNorm: UTF8String,
                lSet: ArrayData, rSet: ArrayData,
                lKw: ArrayData, rKw: ArrayData,
                floorScore: Int, kwFloor: Int): Int = {
    import FuzzyBestScore._
    var best = 0
    // strategy floors rise with the running best: a score <= best can
    // never change the max, so asking the scorer to refuse below
    // best + 1 is exact and narrows its levenshtein band.
    var s = ratioAtLeastU8(lSorted, rSorted, floorScore)
    if (s > best) best = s
    if (best < 100) {
      s = tokenSetRatioAtLeast(lSet, rSet, math.max(floorScore, best + 1))
      if (s > best) best = s
      if (best < 100) {
        s = ratioAtLeastU8(lNorm, rNorm, math.max(floorScore, best + 1))
        if (s > best) best = s
      }
    }
    if (best < 100) {
      // jaccard <= 100 can only tie a best of 100, never raise the max
      s = jaccard100(lKw, rKw)
      if (s >= kwFloor && s > best) best = s
    }
    best
  }

  /** [[NormalizeName]] (F-6); caller maps null → EMPTY_UTF8. */
  def normalizeName(in: UTF8String): UTF8String = NameRegex.normalize(in)

  /** [[KeywordsArr]] (F-7); caller maps null → EMPTY_UTF8. */
  def keywordsArr(in: UTF8String): ArrayData = {
    val kws = NameRegex.keywords(NameRegex.normalize(in).toString)
    val out = new Array[Any](kws.length)
    var i = 0
    while (i < kws.length) { out(i) = UTF8String.fromString(kws(i)); i += 1 }
    new GenericArrayData(out)
  }

  /** [[ExtractFromTitle]] (F-8); null-safe (null → null at the caller). */
  def extractFromTitle(v: UTF8String): UTF8String = {
    val title = v.toString
    var i = 0
    while (i < NameRegex.titlePatterns.length) {
      val m = NameRegex.titlePatterns(i).matcher(title)
      if (m.find()) {
        val g = m.group(1)
        // Spark regexp_extract: unmatched group → ""; then trim (space-only)
        val cand = UTF8String.fromString(if (g == null) "" else g).trim()
        if (cand.numChars() >= 3 && !NameRegex.digitsOnly.matcher(cand.toString).find())
          return cand
      }
      i += 1
    }
    v
  }

  /** [[IsValidCompanyName]] (F-5); caller maps null → false. */
  def isValidCompanyName(u8: UTF8String): Boolean = {
    if (u8.trim().numChars() < 3) return false
    val s = u8.toString
    var i = 0
    while (i < NameRegex.invalidStart.length) {
      if (NameRegex.invalidStart(i).matcher(s).find()) return false
      i += 1
    }
    true
  }

  /** [[VecDot]]: sequential-fold dot product; boxed null on length
    * mismatch or a null element (the zip_with null-propagation). */
  def vecDot(a: ArrayData, b: ArrayData,
             aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      acc += x * y
      i += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** [[LshBuckets]] for a NULL vector: all-zero buckets. */
  def lshBucketsNull(tables: Int): ArrayData =
    new GenericArrayData(new Array[Long](tables))

  /** [[LshBuckets]]: all `tables` sign-LSH bucket ids in one pass. */
  def lshBuckets(a: ArrayData, isFloat: Boolean, bits: Int, tables: Int): ArrayData =
    lshBuckets(a, isFloat, bits, tables, 0)

  /** [[LshBuckets]] with a table-family offset: table t uses the
    * hyperplane family of absolute table index `tableOffset + t`. An
    * offset family provides EXTENSION bits statistically independent
    * of any base banding geometry (hot-bucket refinement needs signs
    * the base bucket has not already conditioned on). */
  def lshBuckets(a: ArrayData, isFloat: Boolean, bits: Int, tables: Int,
                 tableOffset: Int): ArrayData = {
    val n = a.numElements()
    val out = new Array[Long](tables)
    var anyNull = n == 0
    var i = 0
    while (i < n && !anyNull) { anyNull = a.isNullAt(i); i += 1 }
    if (!anyNull) {
      var t = 0
      while (t < tables) {
        var bucket = 0L
        var j = 0
        while (j < bits) {
          val plane = ((tableOffset + t).toLong * bits + j) * 40503L
          var acc = 0.0
          var k = 0
          while (k < n) {
            // hyperplaneComponent(j, i): ((i*2654435761 + j*40503) % 1997) - 998,
            // i is the 1-based sequence index
            val comp = (((k + 1).toLong * 2654435761L + plane) % 1997L - 998L).toDouble
            val x = if (isFloat) a.getFloat(k).toDouble else a.getDouble(k)
            acc += x * comp
            k += 1
          }
          // Spark SQL (and DuckDB) order NaN above every finite value,
          // so a NaN projection satisfies `proj > 0` in the declarative
          // twin — mirror that, not Java's NaN-comparisons-are-false
          if (acc > 0.0 || acc.isNaN) bucket |= (1L << j)
          j += 1
        }
        out(t) = bucket
        t += 1
      }
    }
    new GenericArrayData(out)
  }

  /** [[SortedDistinctLongs]]: sorted-distinct of a long array in one
    * primitive pass. Twin parity with `array_sort(array_distinct(a))`:
    * distinct keeps at most ONE null, and array_sort's default
    * comparator places it LAST; non-null values sort ascending (total
    * order on longs — no tie ambiguity). */
  def sortedDistinctLongs(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val buf = new Array[Long](n)
    var m = 0
    var hadNull = false
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) hadNull = true
      else { buf(m) = a.getLong(i); m += 1 }
      i += 1
    }
    java.util.Arrays.sort(buf, 0, m)
    var w = 0
    i = 0
    while (i < m) {
      if (w == 0 || buf(w - 1) != buf(i)) { buf(w) = buf(i); w += 1 }
      i += 1
    }
    if (!hadNull) {
      val out = new Array[Long](w)
      System.arraycopy(buf, 0, out, 0, w)
      new GenericArrayData(out)
    } else {
      val out = new Array[Any](w + 1)
      i = 0
      while (i < w) { out(i) = buf(i); i += 1 }
      out(w) = null
      new GenericArrayData(out)
    }
  }

  /** [[SigAgree]]: MinHash signature agreement count — the number of
    * positions where two long-array signatures carry the same hash.
    * Twin parity with
    * `aggregate(zip_with(a, b, (x,y) => when(x===y,1).otherwise(0)), 0, _+_)`
    * on every edge: a null ARRAY on either side → boxed null
    * (zip_with null-propagation); a null ELEMENT or a position past the
    * shorter array compares null → the when's otherwise(0) — it counts
    * as disagreement, never null; the fold length is max(len_a, len_b)
    * (zip_with pads), which only matters for the (never-produced)
    * ragged-signature edge the twin would also score 0 on. */
  def sigAgree(a: ArrayData, b: ArrayData): java.lang.Integer = {
    val la = a.numElements(); val lb = b.numElements()
    val n = math.min(la, lb)
    var agree = 0
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i))
        agree += 1
      i += 1
    }
    java.lang.Integer.valueOf(agree)
  }

  /** [[PqPairDot]]: dot product of two PQ-DECODED codes straight off
    * the codebooks — bitwise-identical to
    * `vecDot(decode(cbA, a), decode(cbB, b))` (same doubles in the same
    * sequential fold order) without materializing either decoded
    * array. The hot-path shape: near-dup screens evaluate this once
    * per bucket COLLISION, so the two per-pair decode allocations
    * (flatten + m element_at each) are the dominant candidate-stage
    * cost at scale.
    *
    * Twin parity on the edges (`pqDecode` = flatten of per-subspace
    * element_at):
    *  - a null CODE element nulls its subspace entry and flatten then
    *    nulls the whole decoded array → return boxed null;
    *  - decoded lengths (mA·subA vs mB·subB) can differ across
    *    codebook generations → vecDot's length-mismatch null;
    *  - a code element outside [0, k) throws in ANSI element_at —
    *    throw loudly too (unreachable for pqEncode-produced codes);
    *  - geometries may differ side-to-side, so the fold walks ONE
    *    global element index with per-side subspace counters — the
    *    exact pairing vecDot sees over the two flattened arrays. */
  def pqPairDot(a: ArrayData, b: ArrayData,
                cbA: Array[Array[Array[Double]]],
                cbB: Array[Array[Array[Double]]]): java.lang.Double = {
    val mA = cbA.length; val subA = cbA(0)(0).length
    val mB = cbB.length; val subB = cbB(0)(0).length
    require(a.numElements() == mA && b.numElements() == mB,
      s"PQ code length mismatch: got ${a.numElements()}/${b.numElements()} " +
        s"codes for m=$mA/$mB codebooks")
    if (mA.toLong * subA != mB.toLong * subB) return null // vecDot length null
    var i = 0
    while (i < mA) {
      if (a.isNullAt(i)) return null
      val c = a.getInt(i)
      if (c < 0 || c >= cbA(i).length)
        throw new IllegalArgumentException(
          s"PQ code element $c out of range [0, ${cbA(i).length}) in subspace $i")
      i += 1
    }
    i = 0
    while (i < mB) {
      if (b.isNullAt(i)) return null
      val c = b.getInt(i)
      if (c < 0 || c >= cbB(i).length)
        throw new IllegalArgumentException(
          s"PQ code element $c out of range [0, ${cbB(i).length}) in subspace $i")
      i += 1
    }
    var acc = 0.0
    var miA = 0; var jA = 0
    var miB = 0; var jB = 0
    var cwA = cbA(0)(a.getInt(0))
    var cwB = cbB(0)(b.getInt(0))
    val n = mA * subA
    var g = 0
    while (g < n) {
      acc += cwA(jA) * cwB(jB)
      jA += 1
      if (jA == subA && g + 1 < n) { jA = 0; miA += 1; cwA = cbA(miA)(a.getInt(miA)) }
      jB += 1
      if (jB == subB && g + 1 < n) { jB = 0; miB += 1; cwB = cbB(miB)(b.getInt(miB)) }
      g += 1
    }
    java.lang.Double.valueOf(acc)
  }

  /** [[PqEncode]] for a NULL vector: m null codes. */
  def pqEncodeNull(m: Int): ArrayData = new GenericArrayData(new Array[Any](m))

  /** [[PqEncode]]: per-subspace index of the L2-nearest codeword. */
  def pqEncode(a: ArrayData, isFloat: Boolean,
               codebook: Array[Array[Array[Double]]]): ArrayData = {
    val m = codebook.length
    val subDim = codebook(0)(0).length
    val out = new Array[Any](m)
    var mi = 0
    while (mi < m) {
      val base = mi * subDim
      var ok = a.numElements() >= base + subDim
      var j = 0
      while (ok && j < subDim) { if (a.isNullAt(base + j)) ok = false; j += 1 }
      if (!ok) out(mi) = null
      else {
        val cws = codebook(mi)
        var bestK = 0
        var bestD = 0.0
        var first = true
        var ki = 0
        while (ki < cws.length) {
          val cw = cws(ki)
          var acc = 0.0
          var t = 0
          while (t < subDim) {
            val x = if (isFloat) a.getFloat(base + t).toDouble else a.getDouble(base + t)
            val d = x - cw(t)
            acc += d * d
            t += 1
          }
          // Double.compare ranks NaN above every finite value — the
          // same total order array_min/array_position use, so a NaN
          // distance never beats a finite one (and an all-NaN subspace
          // keeps codeword 0, the twin's first-position answer)
          if (first || java.lang.Double.compare(acc, bestD) < 0) {
            bestD = acc; bestK = ki; first = false
          }
          ki += 1
        }
        out(mi) = bestK
      }
      mi += 1
    }
    new GenericArrayData(out)
  }

  /** [[PqReconSqErr]]: ‖v − decode(encode(v))‖² in one pass — the
    * PQ-staleness statistic, bitwise the declarative
    * `aggregate(zip_with(v, pqDecode(pqEncode(v))), 0.0, _+_)` chain:
    * per subspace the encode loop below is [[pqEncode]]'s
    * (Double.compare NaN order, first-match ties), and the error then
    * accumulates (x − cw)² ELEMENTWISE in one global left fold — the
    * exact association the zip_with/aggregate fold uses. Null edges:
    * any null element, or a vector whose length differs from
    * m × subDim, returns boxed null (a short vector nulls a code
    * element → flatten nulls the decode; a long one makes zip_with pad
    * with nulls → the fold poisons — both null). */
  def pqReconSqErr(a: ArrayData, isFloat: Boolean,
                   cb: Array[Array[Array[Double]]]): java.lang.Double = {
    val m = cb.length
    val subDim = cb(0)(0).length
    if (a.numElements() != m * subDim) return null
    var i = 0
    while (i < m * subDim) {
      if (a.isNullAt(i)) return null
      i += 1
    }
    var acc = 0.0
    var mi = 0
    while (mi < m) {
      val base = mi * subDim
      val cws = cb(mi)
      var bestK = 0
      var bestD = 0.0
      var first = true
      var ki = 0
      while (ki < cws.length) {
        val cw = cws(ki)
        var d2 = 0.0
        var t = 0
        while (t < subDim) {
          val x = if (isFloat) a.getFloat(base + t).toDouble else a.getDouble(base + t)
          val d = x - cw(t)
          d2 += d * d
          t += 1
        }
        if (first || java.lang.Double.compare(d2, bestD) < 0) {
          bestD = d2; bestK = ki; first = false
        }
        ki += 1
      }
      val cw = cws(bestK)
      var t = 0
      while (t < subDim) {
        val x = if (isFloat) a.getFloat(base + t).toDouble else a.getDouble(base + t)
        val d = x - cw(t)
        acc += d * d
        t += 1
      }
      mi += 1
    }
    acc
  }

  // ───── token-string kernels ─────

  /** Byte-slice split on 0x20 == `split(s, " ")` (regex " ", limit -1:
    * empty tokens kept, including leading/trailing). Exact for valid
    * UTF-8, where the space byte never occurs inside a multi-byte
    * sequence; the slices wrap one shared byte copy (no per-token
    * copying). */
  private def splitSpace(u: UTF8String): Array[UTF8String] = {
    val b = u.getBytes
    var spaces = 0
    var i = 0
    while (i < b.length) { if (b(i) == 0x20) spaces += 1; i += 1 }
    val out = new Array[UTF8String](spaces + 1)
    var k = 0
    var start = 0
    i = 0
    while (i < b.length) {
      if (b(i) == 0x20) {
        out(k) = UTF8String.fromBytes(b, start, i - start); k += 1; start = i + 1
      }
      i += 1
    }
    out(k) = UTF8String.fromBytes(b, start, b.length - start)
    out
  }

  /** In-place adjacent dedupe of a SORTED UTF8String array; returns the
    * distinct count (== array_distinct-then-sort: equal strings are
    * bitwise equal, so first-occurrence-then-sort and sort-then-dedupe
    * agree). */
  private def dedupeSorted(a: Array[UTF8String], n0: Int): Int = {
    var n = 0
    var i = 0
    while (i < n0) {
      if (n == 0 || a(i).binaryCompare(a(n - 1)) != 0) { a(n) = a(i); n += 1 }
      i += 1
    }
    n
  }

  /** [[LowerCase]]: exactly what Spark's `lower()` computes under ICU
    * case mappings (the default; `CollationSupport.Lower.execBinaryICU`)
    * — an ASCII fast path, else ICU's root-locale full lowercase of the
    * valid-UTF-8 decoding (invalid bytes become U+FFFD). Calling ICU
    * directly skips `CollationAwareUTF8String`, whose static initializer
    * title-cases all 1,114,112 code points: over a second of CPU in the
    * first task of each JVM that lowercases anything. */
  def lower(u: UTF8String): UTF8String =
    if (u.isFullAscii) u.toLowerCaseAscii
    else UTF8String.fromString(com.ibm.icu.lang.UCharacter.toLowerCase(u.toValidString))

  /** [[TokenSortJoinExpr]]: `array_join(array_sort(split(s," ")), " ")`
    * in one pass. Sorting is UTF8String binary order — exactly
    * array_sort's string order — and rejoining single-space-split
    * tokens with single spaces reproduces the input byte count, so the
    * output buffer is exact-sized. */
  def tokenSortJoin(u: UTF8String): UTF8String = {
    val toks = splitSpace(u)
    if (toks.length == 1) return toks(0)
    java.util.Arrays.sort(toks.asInstanceOf[Array[AnyRef]])
    val out = new Array[Byte](u.numBytes)
    var pos = 0
    var i = 0
    while (i < toks.length) {
      if (i > 0) { out(pos) = 0x20; pos += 1 }
      toks(i).writeToMemory(out, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + pos)
      pos += toks(i).numBytes
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** [[TokenSetStrings]]: `array_sort(array_distinct(split(s," ")))` —
    * the sorted distinct token set in one pass. */
  def tokenSet(u: UTF8String): ArrayData = {
    val toks = splitSpace(u)
    java.util.Arrays.sort(toks.asInstanceOf[Array[AnyRef]])
    val n = dedupeSorted(toks, toks.length)
    val out = new Array[Any](n)
    var i = 0
    while (i < n) { out(i) = toks(i); i += 1 }
    new GenericArrayData(out)
  }

  /** [[CharNgramSet]]: graft.functions.Hashing.charNgrams — the sorted
    * distinct character-n-gram set of the first `maxLen` chars; a
    * string shorter than n contributes itself as one gram. Code-point
    * boundaries are walked with the same `numBytesForFirstByte` stride
    * `numChars`/`substring` use, so gram slicing is bitwise Spark's
    * `substr(i, n)`. */
  def charNgramSet(text: UTF8String, n: Int, maxLen: Int): ArrayData = {
    val s = text.substringSQL(1, maxLen)
    val len = s.numChars()
    if (len < n) return new GenericArrayData(Array[Any](s))
    val bytes = s.getBytes
    // bounds(c) = byte offset of code point c; bounds(len) = end
    val bounds = new Array[Int](len + 1)
    var i = 0
    var c = 0
    while (i < bytes.length) {
      bounds(c) = i; c += 1
      i += UTF8String.numBytesForFirstByte(bytes(i))
    }
    bounds(len) = bytes.length
    val m = len - n + 1
    val grams = new Array[UTF8String](m)
    i = 0
    while (i < m) {
      grams(i) = UTF8String.fromBytes(bytes, bounds(i), bounds(i + n) - bounds(i))
      i += 1
    }
    java.util.Arrays.sort(grams.asInstanceOf[Array[AnyRef]])
    val k = dedupeSorted(grams, m)
    val out = new Array[Any](k)
    i = 0
    while (i < k) { out(i) = grams(i); i += 1 }
    new GenericArrayData(out)
  }

  /** [[TokenSetRatio100]]: token_set_ratio over pre-sorted distinct
    * token arrays — [[FuzzyBestScore.tokenSetRatioAtLeast]] at floor 0,
    * where every length gate passes and every banded levenshtein runs
    * to completion (lev <= maxlen == the floor-0 band), so the result
    * is exactly `greatest(ratio(inter,t1), ratio(inter,t2),
    * ratio(t1,t2))`. ASCII-domain contract as FuzzyBestScore: byte
    * distance == codepoint distance only on normalized names. */
  def tokenSetRatio100(ta: ArrayData, tb: ArrayData): Int =
    FuzzyBestScore.tokenSetRatioAtLeast(ta, tb, 0)

  /** [[WordShingles]]: word-k-shingle STRINGS (position order, not the
    * hashes [[shingleHashes]] computes). Splitting on single spaces and
    * rejoining with single spaces means shingle i is exactly the input
    * bytes from the start of token i to the end of token i+k-1 — the
    * shingles are zero-copy slices of one shared byte copy. A doc
    * shorter than k tokens contributes its whole text as one shingle
    * (graft.functions.Hashing.shingles semantics). Exact on valid UTF-8
    * only, TokenExprs.scala's exactness domain: the declarative split
    * decodes invalid bytes to U+FFFD, these slices keep the raw bytes. */
  def wordShingles(text: UTF8String, k: Int): ArrayData = {
    val b = text.getBytes
    var spaces = 0
    var i = 0
    while (i < b.length) { if (b(i) == 0x20) spaces += 1; i += 1 }
    val n = spaces + 1
    if (n < k) return new GenericArrayData(Array[Any](text))
    val starts = new Array[Int](n)
    val ends = new Array[Int](n)
    starts(0) = 0
    var t = 0
    i = 0
    while (i < b.length) {
      if (b(i) == 0x20) { ends(t) = i; t += 1; starts(t) = i + 1 }
      i += 1
    }
    ends(n - 1) = b.length
    val m = n - k + 1
    val out = new Array[Any](m)
    i = 0
    while (i < m) {
      out(i) = UTF8String.fromBytes(b, starts(i), ends(i + k - 1) - starts(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  /** [[PickJoin]]: `array_join(transform(pos, p => element_at(toks,
    * p+1)), " ")` — the scrub-tail rebuild (t9/d15/d16), which runs the
    * transform lambda interpreted once per KEPT TOKEN per document.
    * Contract (guaranteed by scrubCovered's construction, checked
    * loudly): positions are non-null and in [0, |toks|), tokens are
    * non-null — the unreachable edges where the declarative chain
    * would skip a null in array_join. */
  def pickJoin(toks: ArrayData, pos: ArrayData): UTF8String = {
    val m = pos.numElements()
    if (m == 0) return UTF8String.EMPTY_UTF8
    val nt = toks.numElements()
    var total = m - 1 // separators
    var i = 0
    while (i < m) {
      if (pos.isNullAt(i))
        throw new IllegalArgumentException("pickJoin: null position")
      val p = pos.getInt(i)
      if (p < 0 || p >= nt)
        throw new IllegalArgumentException(
          s"pickJoin: position $p out of range [0, $nt)")
      if (toks.isNullAt(p))
        throw new IllegalArgumentException(s"pickJoin: null token at $p")
      total += toks.getUTF8String(p).numBytes
      i += 1
    }
    val out = new Array[Byte](total)
    var off = 0
    i = 0
    while (i < m) {
      if (i > 0) { out(off) = 0x20; off += 1 }
      val tok = toks.getUTF8String(pos.getInt(i))
      tok.writeToMemory(out, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off)
      off += tok.numBytes
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  private val UNK: UTF8String = UTF8String.fromString("<unk>")

  /** [[UnkTextExpr]]: rebuild a document with every OOV position
    * replaced by `<unk>` — the oovScrub (t11) rewrite, declaratively a
    * kept-position transform + an oov transform + a struct array_sort +
    * a projection transform (four interpreted HOF passes per doc).
    * Position p emits `<unk>` when p ∈ oov, else toks[p]; joined with
    * " ". Contract (oovScrub's construction — collect_set over
    * posexplode positions — checked loudly): oov positions are
    * non-null, distinct, in [0, |toks|); tokens non-null. */
  def unkText(toks: ArrayData, oov: ArrayData): UTF8String = {
    val n = toks.numElements()
    val m = oov.numElements()
    val inOov = new Array[Boolean](n)
    var i = 0
    while (i < m) {
      if (oov.isNullAt(i))
        throw new IllegalArgumentException("unkText: null oov position")
      val p = oov.getInt(i)
      if (p < 0 || p >= n)
        throw new IllegalArgumentException(
          s"unkText: oov position $p out of range [0, $n)")
      if (inOov(p))
        throw new IllegalArgumentException(s"unkText: duplicate oov position $p")
      inOov(p) = true
      i += 1
    }
    var total = if (n > 0) n - 1 else 0
    i = 0
    while (i < n) {
      if (inOov(i)) total += UNK.numBytes
      else {
        if (toks.isNullAt(i))
          throw new IllegalArgumentException(s"unkText: null token at $i")
        total += toks.getUTF8String(i).numBytes
      }
      i += 1
    }
    val out = new Array[Byte](total)
    var off = 0
    i = 0
    while (i < n) {
      if (i > 0) { out(off) = 0x20; off += 1 }
      val tok = if (inOov(i)) UNK else toks.getUTF8String(i)
      tok.writeToMemory(out, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + off)
      off += tok.numBytes
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** [[ChunkStartsExpr]]: the chunkDocuments start positions —
    * `filter(sequence(0, greatest(n-1, 0), stride), s => s === 0 ||
    * s + (chunkSize - stride) < n)` without the interpreted per-element
    * filter lambda or the candidate-sequence materialization. Keeps
    * start 0 always and every further stride multiple whose chunk
    * reaches past the previous one's coverage. */
  def chunkStarts(n: Int, chunkSize: Int, stride: Int): ArrayData = {
    val cand = math.max(n - 1, 0) / stride + 1
    var cnt = 0
    var i = 0
    while (i < cand) {
      val s = i * stride
      if (s == 0 || s + (chunkSize - stride) < n) cnt += 1
      i += 1
    }
    val out = new Array[Int](cnt)
    var k = 0
    i = 0
    while (i < cand) {
      val s = i * stride
      if (s == 0 || s + (chunkSize - stride) < n) { out(k) = s; k += 1 }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** [[WordlistHitsExpr]]: `size(filter(split(text," "), t =>
    * t.isin(words)))` — token hits against a small wordlist, WITH
    * multiplicity, in one byte pass. The declarative filter is a HOF
    * (interpreted lambda per token per row — per CLASS per row in
    * classify's 4-armed argmax). Byte equality == UTF8String equality,
    * and an invalid-UTF-8 token can never equal an ASCII wordlist word
    * under either representation, so the count is exact on any input. */
  def wordlistHits(text: UTF8String, words: Array[Array[Byte]]): Int = {
    val b = text.getBytes
    var hits = 0
    var start = 0
    var i = 0
    while (i <= b.length) {
      if (i == b.length || b(i) == 0x20) {
        val len = i - start
        var w = 0
        var found = false
        while (w < words.length && !found) {
          val cand = words(w)
          if (cand.length == len) {
            var j = 0
            while (j < len && cand(j) == b(start + j)) j += 1
            found = j == len
          }
          w += 1
        }
        if (found) hits += 1
        start = i + 1
      }
      i += 1
    }
    hits
  }

  /** [[SumTokenChars]]: `aggregate(split(text," "), 0L, (a,w) => a +
    * length(w))` — the summed token lengths of qualityScore's mean-
    * length term. Tokens partition the text's code points minus the
    * splitting spaces, so the sum is numChars − spaces: two counters,
    * no token materialization, no interpreted fold. Exact on valid UTF-8
    * only, TokenExprs.scala's exactness domain: on invalid bytes a
    * truncated lead's stride can skip a space byte, and the twin's
    * token lengths no longer sum to numChars − spaces. */
  def sumTokenChars(text: UTF8String): Long = {
    val b = text.getBytes
    var spaces = 0
    var i = 0
    while (i < b.length) { if (b(i) == 0x20) spaces += 1; i += 1 }
    text.numChars().toLong - spaces
  }

  /** [[PolyFingerprint]]: rolling polynomial fingerprint of the first
    * `maxLen` chars — `fold(acc*31 + codepoint) mod 1e9+7`, one pass.
    * The declarative twin materializes a per-char position sequence,
    * runs an interpreted `transform` lambda per char (substr + ascii),
    * then an interpreted `aggregate` fold. Empty string folds the
    * single code 0 (ascii("") == 0 at the padded position), which is
    * 0 — matching `greatest(length, 1)`'s one-position floor. */
  def polyFingerprint(text: UTF8String, maxLen: Int): Long = {
    val s = text.substringSQL(1, maxLen)
    val b = s.getBytes
    if (b.length == 0) return 0L
    var acc = 0L
    var i = 0
    while (i < b.length) {
      val b0 = b(i) & 0xFF
      var cp = 0
      var step = 1
      if (b0 < 0x80) cp = b0
      else {
        step = UTF8String.numBytesForFirstByte(b(i))
        if (step > b.length - i) step = b.length - i
        // Spark's ascii() reads String.codePointAt(0) of the one-char
        // substring — decode the same way on the multi-byte path
        cp = UTF8String.fromBytes(b, i, step).toString.codePointAt(0)
      }
      acc = (acc * 31 + cp) % 1000000007L
      i += step
    }
    acc
  }
}
