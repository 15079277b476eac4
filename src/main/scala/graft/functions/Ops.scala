package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels behind the custom Catalyst expressions in [[Exprs]].
  *
  * Every method is referenced BY NAME from generated Java (whole-stage
  * codegen emits `graft.functions.Ops.xxx(...)`), so signatures must stay
  * Java-friendly (Scala object = static forwarders). All hashing is
  * explicit FNV-1a / SplitMix64 — deterministic across JVMs and Spark
  * versions, no dependence on JVM hashCode.
  */
object Ops {

  // ------------------------------------------------------------------ hashing
  private final val FnvOffset = 0xcbf29ce484222325L
  private final val FnvPrime  = 0x100000001b3L

  /** FNV-1a 64-bit over UTF-8 bytes. */
  def fnv1a(s: UTF8String): Long = {
    val b = s.getBytes
    var h = FnvOffset
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xffL)) * FnvPrime; i += 1 }
    h
  }

  /** SplitMix64 — the standard public-domain mixer; used to derive the
    * per-permutation multipliers/addends for MinHash and the deterministic
    * LSH hyperplanes. */
  def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  // --------------------------------------------------------------- minhash
  /** Rolling shingle hashes of a token array: hash of each k-consecutive-token
    * window (FNV over token hashes). Returns the DISTINCT shingle hash set.
    * Empty/short input → single hash of the whole token list, so every doc
    * has a non-empty shingle set (stable degenerate case). */
  def shingleHashes(tokens: ArrayData, k: Int): Array[Long] = {
    val n = tokens.numElements()
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) = if (tokens.isNullAt(i)) 0L else fnv1a(tokens.getUTF8String(i))
      i += 1
    }
    if (n < k) {
      var h = FnvOffset
      i = 0
      while (i < n) { h = (h ^ th(i)) * FnvPrime; i += 1 }
      return Array(h)
    }
    val out = new java.util.HashSet[java.lang.Long]()
    i = 0
    while (i <= n - k) {
      var h = FnvOffset
      var j = 0
      while (j < k) { h = (h ^ th(i + j)) * FnvPrime; j += 1 }
      out.add(h)
      i += 1
    }
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    java.util.Arrays.sort(arr)
    arr
  }

  /** [[shingleHashes]] wrapped for the ShingleHashes expression (ArrayData
    * in/out, one static call from generated code). */
  def shingleHashData(tokens: ArrayData, k: Int): ArrayData =
    new GenericArrayData(shingleHashes(tokens, k))

  /** Positional (multiset) k-gram hashes: one FNV-combined hash per window
    * position, duplicates kept, order kept; empty for docs shorter than k.
    * Hash identity matches k-gram string identity (tokens are whitespace-
    * split so space-joining is injective; 64-bit collisions negligible). */
  def ngramHashData(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) = if (tokens.isNullAt(i)) 0L else fnv1a(tokens.getUTF8String(i))
      i += 1
    }
    val out = new Array[Long](n - k + 1)
    i = 0
    while (i <= n - k) {
      var h = FnvOffset
      var j = 0
      while (j < k) { h = (h ^ th(i + j)) * FnvPrime; j += 1 }
      out(i) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Intersection size of two SORTED long arrays — one merge walk, zero
    * allocation. The verify kernel for exact-Jaccard candidates: the
    * composed `size(array_intersect(a, b))` builds a hash set AND the
    * intersection array per pair; over hundreds of thousands of candidate
    * pairs the difference is the whole verify stage's budget. Inputs must
    * be ascending-sorted and duplicate-free ([[shingleHashes]]'s contract —
    * it sorts its distinct output). */
  def sortedIntersectCount(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements(); val nb = b.numElements()
    var i = 0; var j = 0; var n = 0L
    while (i < na && j < nb) {
      val x = a.getLong(i); val y = b.getLong(j)
      if (x == y) { n += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    n
  }

  /** One-pass repetition stats over a token array:
    * `[n_tokens, n_distinct_kgrams, max_token_count]`. Token multiplicity is
    * counted on 64-bit token hashes (collision odds negligible within one
    * document); the k-gram count follows [[shingleHashes]]'s conventions
    * exactly (rolling FNV, whole-doc gram when n < k) so both signals come
    * from a single pass over hashes already in hand. */
  def repetitionStats(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    val th = new Array[Long](n)
    var i = 0
    while (i < n) {
      th(i) = if (tokens.isNullAt(i)) 0L else fnv1a(tokens.getUTF8String(i))
      i += 1
    }
    val counts = new java.util.HashMap[java.lang.Long, Integer]()
    var maxC = 0
    i = 0
    while (i < n) {
      val c = counts.merge(th(i), Integer.valueOf(1), (a, b) => Integer.valueOf(a + b))
      if (c > maxC) maxC = c
      i += 1
    }
    var nd = 1L
    if (n >= k) {
      val set = new java.util.HashSet[java.lang.Long]()
      i = 0
      while (i <= n - k) {
        var h = FnvOffset
        var j = 0
        while (j < k) { h = (h ^ th(i + j)) * FnvPrime; j += 1 }
        set.add(h)
        i += 1
      }
      nd = set.size.toLong
    }
    new GenericArrayData(Array(n.toLong, nd, maxC.toLong))
  }

  /** MinHash signature: for permutation p, min over shingles of
    * splitmix64-derived (a_p * h + b_p). One pass over the shingle set —
    * O(|shingles| * numHashes) multiply-adds, no per-permutation re-hash of
    * the strings (SURVEY.md §7 extension 6: designed for 100 TB — this runs
    * map-side, per row, no shuffle). */
  def minhashSig(tokens: ArrayData, shingleK: Int, numHashes: Int): ArrayData = {
    val sh = shingleHashes(tokens, shingleK)
    val sig = new Array[Long](numHashes)
    var p = 0
    while (p < numHashes) {
      val a = splitmix64(2L * p) | 1L // odd multiplier
      val b = splitmix64(2L * p + 1)
      var m = Long.MaxValue
      var i = 0
      while (i < sh.length) {
        val v = a * sh(i) + b
        if (v < m) m = v
        i += 1
      }
      sig(p) = m
      p += 1
    }
    new GenericArrayData(sig)
  }

  /** One-Permutation-Hashing MinHash signature (Li/Owen/Zhang, NIPS'12)
    * with densification via rotation (Shrivastava & Li, ICML'14 — public
    * knowledge): ONE hash evaluation per shingle instead of `numBins`.
    * The scrambled 64-bit shingle hash is the permutation rank; its
    * unsigned residue picks the bin, the per-bin minimum rank is the
    * sketch value, and an empty bin borrows from the next occupied bin
    * cyclically, offset by walk distance × a large odd constant so
    * borrowed values collide only when the SOURCE values collide at the
    * same distance — exactly the densified-equality semantics the
    * estimator needs. A pure function of the shingle SET (order and
    * multiplicity already removed by [[shingleHashes]]). For documents
    * with ≥ numBins shingles this matches `numBins` classic minhashes
    * statistically at 1/numBins the hashing cost — the map-side term that
    * dominates MinHash at corpus scale ([[minhashSig]] is
    * O(shingles × hashes); this is O(shingles)). */
  def ophSig(tokens: ArrayData, shingleK: Int, numBins: Int): ArrayData = {
    require(numBins > 0, s"ophSig: numBins must be positive, got $numBins")
    val sh = shingleHashes(tokens, shingleK)
    val sig = new Array[Long](numBins)
    java.util.Arrays.fill(sig, Long.MaxValue) // empty-bin marker
    var i = 0
    while (i < sh.length) {
      val h = splitmix64(sh(i))
      val bin = java.lang.Long.remainderUnsigned(h, numBins.toLong).toInt
      if (h < sig(bin)) sig(bin) = h
      i += 1
    }
    val out = new Array[Long](numBins)
    var b = 0
    while (b < numBins) {
      if (sig(b) != Long.MaxValue) out(b) = sig(b)
      else {
        var d = 1
        while (d < numBins && sig((b + d) % numBins) == Long.MaxValue) d += 1
        out(b) =
          if (d == numBins) splitmix64(b.toLong) // unreachable for ≥1 shingle; deterministic anyway
          else sig((b + d) % numBins) + d.toLong * 0x9E3779B97F4A7C15L
      }
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Hash each of `bands` contiguous signature slices to one long (LSH
    * banding: equal band hash ⇒ candidate pair). */
  def bandHashes(sig: ArrayData, bands: Int): ArrayData = {
    val n = sig.numElements()
    val r = n / bands
    val out = new Array[Long](bands)
    var b = 0
    while (b < bands) {
      var h = FnvOffset ^ b
      var j = 0
      while (j < r) { h = (h ^ sig.getLong(b * r + j)) * FnvPrime; j += 1 }
      out(b) = h
      b += 1
    }
    new GenericArrayData(out)
  }

  /** Exact Jaccard similarity of the k-shingle sets of two token arrays —
    * the LSH verification kernel (runs on candidate pairs only). */
  def jaccardShingles(a: ArrayData, b: ArrayData, k: Int): Double = {
    val sa = shingleHashes(a, k)
    val sb = shingleHashes(b, k)
    // both sorted → merge-count intersection
    var i = 0; var j = 0; var inter = 0
    while (i < sa.length && j < sb.length) {
      if (sa(i) == sb(j)) { inter += 1; i += 1; j += 1 }
      else if (sa(i) < sb(j)) i += 1
      else j += 1
    }
    val union = sa.length + sb.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  // --------------------------------------------------------------- simhash
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 8 bytes of MD5(UTF-8 bytes) as a big-endian signed long.
    *
    * This is the SimHash token hash ON PURPOSE (instead of the faster FNV
    * used elsewhere): md5 is a cross-engine primitive, so the full 64-bit
    * signature — and therefore every near-dup verdict derived from it — can
    * be independently recomputed and audited by ANY engine that reads the
    * same lake (the DuckDB oracle for x07 does exactly that from
    * `substr(md5(token), 1, 16)`). Signature stability across engines and
    * versions is worth one MD5 per token on a once-per-corpus map pass. */
  def md5Hash64(s: UTF8String): Long = {
    val d = md5Local.get()
    d.reset()
    val b = d.digest(s.getBytes)
    ((b(0) & 0xffL) << 56) | ((b(1) & 0xffL) << 48) | ((b(2) & 0xffL) << 40) |
      ((b(3) & 0xffL) << 32) | ((b(4) & 0xffL) << 24) | ((b(5) & 0xffL) << 16) |
      ((b(6) & 0xffL) << 8) | (b(7) & 0xffL)
  }

  /** 64-bit SimHash over md5-derived token hashes (unit weights). Bit j of
    * the signature is the sign of the sum over tokens of ±1 on bit j of the
    * token hash — reproducible bit-for-bit in SQL from md5 hex. */
  def simhash64(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val acc = new Array[Int](64)
    var i = 0
    while (i < n) {
      if (!tokens.isNullAt(i)) {
        val h = md5Hash64(tokens.getUTF8String(i))
        var j = 0
        while (j < 64) {
          if (((h >>> j) & 1L) == 1L) acc(j) += 1 else acc(j) -= 1
          j += 1
        }
      }
      i += 1
    }
    var out = 0L
    var j = 0
    while (j < 64) { if (acc(j) > 0) out |= (1L << j); j += 1 }
    out
  }

  // ------------------------------------------------------------ fingerprint
  /** Winnowing document fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    * rolling FNV over char k-grams, minimum per window of w, distinct sorted.
    * Robust to local edits — standard near-copy detection fingerprint. */
  def winnowFingerprint(text: UTF8String, k: Int, w: Int): ArrayData = {
    val b = text.getBytes
    if (b.length < k) return new GenericArrayData(Array(fnv1a(text)))
    val m = b.length - k + 1
    val kh = new Array[Long](m)
    var i = 0
    while (i < m) {
      var h = FnvOffset
      var j = 0
      while (j < k) { h = (h ^ (b(i + j) & 0xffL)) * FnvPrime; j += 1 }
      kh(i) = h
      i += 1
    }
    val sel = new java.util.TreeSet[java.lang.Long]()
    if (m <= w) {
      var min = kh(0); i = 1
      while (i < m) { if (kh(i) < min) min = kh(i); i += 1 }
      sel.add(min)
    } else {
      i = 0
      while (i + w <= m) {
        var min = kh(i)
        var j = i + 1
        while (j < i + w) { if (kh(j) < min) min = kh(j); j += 1 }
        sel.add(min)
        i += 1
      }
    }
    val arr = new Array[Long](sel.size)
    val it = sel.iterator()
    i = 0
    while (it.hasNext) { arr(i) = it.next(); i += 1 }
    new GenericArrayData(arr)
  }

  // ---------------------------------------------------------------- vectors
  /** Cosine similarity of two float vectors; 0.0 for zero-norm inputs. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val fa = a.toFloatArray()
    val fb = b.toFloatArray()
    val n = math.min(fa.length, fb.length)
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      dot += fa(i).toDouble * fb(i); na += fa(i).toDouble * fa(i); nb += fb(i).toDouble * fb(i)
      i += 1
    }
    if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Symmetric int8 scalar quantization of a float vector: scale =
    * max|v|/127, code_i = floor(v_i/scale + 0.5) — one BYTE per dimension
    * (4× smaller than float32 on disk AND in scan bytes), exactly
    * replayable in SQL (`floor(CAST(x AS DOUBLE)/scale + 0.5)` — the
    * floor(x+0.5) spelling sidesteps engine-specific round() half-rule
    * differences). An all-zero vector quantizes to all-zero bytes. The
    * per-vector scale is NOT stored: cosine is scale-invariant
    * (cos(q, code·scale) = cos(q, code)), which is the one distance the
    * serving path ranks by. */
  def int8Quantize(v: ArrayData): Array[Byte] = {
    val fv = v.toFloatArray()
    val out = new Array[Byte](fv.length)
    var maxAbs = 0f
    var i = 0
    while (i < fv.length) {
      val x = math.abs(fv(i)); if (x > maxAbs) maxAbs = x; i += 1
    }
    if (maxAbs == 0f) return out
    val scale = maxAbs.toDouble / 127.0
    i = 0
    while (i < fv.length) {
      out(i) = math.floor(fv(i).toDouble / scale + 0.5).toByte
      i += 1
    }
    out
  }

  /** Cosine between a float query vector and an int8-quantized corpus code
    * ([[int8Quantize]]) — the ASYMMETRIC distance of scalar-quantized IVF:
    * the query stays full-precision, the corpus side is one byte per
    * dimension. Accumulation order matches [[cosine]] (sequential fold in
    * double), so a SQL replay folding `CAST(q[i] AS DOUBLE) * CAST(code[i]
    * AS DOUBLE)` left-to-right reproduces every bit. */
  def int8Cosine(q: ArrayData, code: Array[Byte]): Double = {
    val fq = q.toFloatArray()
    val n = math.min(fq.length, code.length)
    var dot = 0.0; var nq = 0.0; var nc = 0.0
    var i = 0
    while (i < n) {
      val a = fq(i).toDouble; val b = code(i).toDouble
      dot += a * b; nq += a * a; nc += b * b
      i += 1
    }
    if (nq == 0.0 || nc == 0.0) 0.0 else dot / (math.sqrt(nq) * math.sqrt(nc))
  }

  /** Dot product of two float vectors. */
  def dotF(a: ArrayData, b: ArrayData): Double = {
    val fa = a.toFloatArray()
    val fb = b.toFloatArray()
    val n = math.min(fa.length, fb.length)
    var dot = 0.0
    var i = 0
    while (i < n) { dot += fa(i).toDouble * fb(i); i += 1 }
    dot
  }

  /** Exact dot product of two long vectors (wrapping int64 arithmetic —
    * callers bound magnitudes so overflow cannot occur). MIN-LENGTH
    * CONTRACT, same as [[dotF]]: ragged inputs are truncated to the shorter
    * array. This DIFFERS from the SQL
    * `aggregate(zip_with(a, b, (x, y) -> x * y), 0L, +)` fold it replaced,
    * which NULL-pads the shorter side and so returns NULL on any length
    * mismatch — on the equal-length quantized vectors every call site
    * feeds it the two spellings coincide (minus the per-element boxing of
    * the interpreted HOF path); a caller with ragged arrays must not rely
    * on that equivalence. */
  def dotL(a: ArrayData, b: ArrayData): Long = {
    val la = a.toLongArray()
    val lb = b.toLongArray()
    val n = math.min(la.length, lb.length)
    var dot = 0L
    var i = 0
    while (i < n) { dot += la(i) * lb(i); i += 1 }
    dot
  }

  /** Sign-bit bucket of a vector under `nbits` deterministic SplitMix64
    * hyperplanes (random-hyperplane LSH for cosine similarity). Components
    * are derived as splitmix64(bit * 131071 + dim) mapped to [-1, 1). */
  def hyperplaneBucket(v: ArrayData, nbits: Int, seed: Long): Long = {
    val f = v.toFloatArray()
    var bucket = 0L
    var bit = 0
    while (bit < nbits) {
      var dot = 0.0
      var i = 0
      while (i < f.length) {
        val r = splitmix64(seed + bit.toLong * 131071L + i)
        // map to [-1, 1): top 53 bits as double in [0,1) then scale
        val u = (r >>> 11).toDouble / (1L << 53).toDouble
        dot += f(i) * (2.0 * u - 1.0)
        i += 1
      }
      if (dot >= 0) bucket |= (1L << bit)
      bit += 1
    }
    bucket
  }

  // ------------------------------------------------------------ text analysis
  private[graft] val langNames = Array("de", "en", "es", "fr")
  // Tiny public-knowledge character-bigram marker profiles. Scores are summed
  // marker hits per language; CJK codepoints short-circuit to "zh".
  private[graft] val langMarkers: Array[Array[String]] = Array(
    Array("ch", "ei", "ie", "sch", "un", "der", "die", "und", "ung", "ß", "ü", "ö", "ä"), // de
    Array("th", "he", "ing", "er", "an", " the ", " of ", " and ", " is ", " to "),       // en
    Array("ll", "ñ", "ci", "os", "as", " el ", " la ", " de ", " que ", " los "),          // es
    Array("ou", "ai", "eau", "é", "è", " le ", " la ", " les ", " des ", " est "))         // fr

  /** Heuristic n-gram language id over a small closed set (de/en/es/fr/zh).
    * Deterministic: ties break by language-code order. */
  def langId(text: UTF8String): UTF8String = {
    val s = " " + text.toString.toLowerCase + " "
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if ((c >= 0x4e00 && c <= 0x9fff) || (c >= 0x3040 && c <= 0x30ff)) return UTF8String.fromString("zh")
      i += 1
    }
    var best = 0; var bestScore = -1
    var l = 0
    while (l < langMarkers.length) {
      var score = 0
      val ms = langMarkers(l)
      var mi = 0
      while (mi < ms.length) {
        var from = 0
        val m = ms(mi)
        var idx = s.indexOf(m, from)
        while (idx >= 0) { score += 1; from = idx + 1; idx = s.indexOf(m, from) }
        mi += 1
      }
      if (score > bestScore) { bestScore = score; best = l }
      l += 1
    }
    UTF8String.fromString(langNames(best))
  }

  // ---------------------------------------------------------------- bloom
  // Double-hashing bloom filter over 64-bit gram hashes (Kirsch &
  // Mitzenmacher '06: probe_i = h1 + i·h2 gives the asymptotic FP rate of
  // k independent hashes). k=2 probes; positions are UNSIGNED mod the bit
  // length so negative hashes index correctly. The bitset is a plain
  // long[] — serialized with the expression/task binary, the broadcast-
  // equivalent shape that stays small (2^20 bits = 128 KiB) even when the
  // gram SET it summarizes would be gigabytes.
  private def bloomProbe(bits: Array[Long], g: Long, set: Boolean): Boolean = {
    val numBits = bits.length.toLong * 64L
    val h1 = splitmix64(g)
    val h2 = splitmix64(h1) | 1L
    var i = 0
    while (i < 2) {
      val p = java.lang.Long.remainderUnsigned(h1 + i * h2, numBits)
      val w = (p >>> 6).toInt
      val m = 1L << (p & 63L)
      if (set) bits(w) |= m
      else if ((bits(w) & m) == 0L) return false
      i += 1
    }
    true
  }

  /** FNV-1a with a one-byte seed prefix — the second, independent hash the
    * count-min rows derive from (h_r = h1 + r·h2). A seed byte before the
    * payload changes every intermediate state, which is how FNV variants
    * are made independent without a second algorithm; the oracle replicates
    * it by prepending the same code point to the fold. */
  def fnv1aSeeded(s: UTF8String, seed: Int): Long = {
    val b = s.getBytes
    var h = (FnvOffset ^ (seed & 0xffL)) * FnvPrime
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xffL)) * FnvPrime; i += 1 }
    h
  }

  /** Count-min update: +1 in each of `rows` rows of the flat `rows`×`width`
    * matrix at the double-hashed bucket of `t`. */
  def cmsAdd(m: Array[Long], t: UTF8String, rows: Int, width: Int): Unit = {
    val h1 = fnv1a(t)
    val h2 = fnv1aSeeded(t, 0x78) | 1L
    var r = 0
    while (r < rows) {
      val b = java.lang.Long.remainderUnsigned(h1 + r * h2, width.toLong).toInt
      m(r * width + b) += 1L
      r += 1
    }
  }

  /** Count-min point estimate: min over rows of the bucket counters —
    * never an underestimate, over by at most the row's collision mass. */
  def cmsLookup(m: ArrayData, t: UTF8String, rows: Int, width: Int): Long = {
    val h1 = fnv1a(t)
    val h2 = fnv1aSeeded(t, 0x78) | 1L
    var est = Long.MaxValue
    var r = 0
    while (r < rows) {
      val b = java.lang.Long.remainderUnsigned(h1 + r * h2, width.toLong).toInt
      val c = m.getLong(r * width + b)
      if (c < est) est = c
      r += 1
    }
    est
  }

  /** Insert gram hash `g` into the bitset. */
  def bloomSet(bits: Array[Long], g: Long): Unit = bloomProbe(bits, g, set = true)

  /** Membership test: false = definitely absent; true = maybe present. */
  def bloomMaybe(bits: Array[Long], g: Long): Boolean = bloomProbe(bits, g, set = false)

  /** True iff ANY element of the shingle-hash array maybe-hits the bloom —
    * the per-document prefilter, one short-circuiting pass over the array. */
  def bloomAny(bits: Array[Long], shingles: ArrayData): Boolean = {
    val n = shingles.numElements()
    var i = 0
    while (i < n) {
      if (bloomMaybe(bits, shingles.getLong(i))) return true
      i += 1
    }
    false
  }

  // ------------------------------------------------------------ compression
  /** Deflate compression ratio in ppm: ⌊10⁶ · deflate(utf8 bytes).length /
    * bytes.length⌋ (level 6, default strategy — the java.util.zip Deflater,
    * deterministic for a given input). Low ratio = highly repetitive text
    * (boilerplate, generated spam), the compressibility quality signal of
    * the Gopher/RefinedWeb rule families. Empty input → 10⁶ (defined as
    * incompressible). */
  def deflateRatioPpm(text: UTF8String): Long = {
    val bytes = text.getBytes
    if (bytes.isEmpty) return 1000000L
    val d = new java.util.zip.Deflater(6)
    try {
      d.setInput(bytes)
      d.finish()
      val buf = new Array[Byte](8192)
      var compressed = 0L
      while (!d.finished()) compressed += d.deflate(buf)
      compressed * 1000000L / bytes.length
    } finally d.end()
  }

  // -------------------------------------------------------------- pair sets
  /** Pack a (v, w) id pair into one long — callers must guarantee both fit
    * in 32 bits (checked by the caller against the data's max id). */
  def packPair(v: Long, w: Long): Long = (v << 32) | (w & 0xffffffffL)

  /** Exact membership probe of a packed pair against a SORTED packed-pair
    * array (binary search — ~log₂ m probes, cache-friendly flat layout). */
  def pairInSortedSet(sorted: Array[Long], v: Long, w: Long): Boolean =
    java.util.Arrays.binarySearch(sorted, packPair(v, w)) >= 0

  // -------------------------------------------------------------------- bpe
  private val BpeJoiner = UTF8String.fromString("_")

  /** One BPE merge pass: every leftmost non-overlapping (l, r) adjacency in
    * the token array becomes the single token `l_r` (the merge scan
    * consumes both and continues AFTER the merged pair — "a a a" with pair
    * (a,a) yields ["a_a", "a"], never overlapping matches). One pass, no
    * allocation beyond the output array. */
  def bpeMergePair(tokens: ArrayData, l: UTF8String, r: UTF8String): ArrayData = {
    val n = tokens.numElements()
    val out = new Array[UTF8String](n)
    var o = 0
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      if (i + 1 < n && l == t && r == tokens.getUTF8String(i + 1)) {
        out(o) = UTF8String.concat(l, BpeJoiner, r)
        i += 2
      } else {
        out(o) = t
        i += 1
      }
      o += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out.asInstanceOf[Array[AnyRef]], o))
  }
}
