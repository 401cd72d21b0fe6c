package graft.functions

/** Pure-Scala fuzzy string similarity kernel.
  *
  * Re-implements (from the published algorithm definitions) the scoring
  * functions the reference uses via rapidfuzz/jellyfish:
  *  - Indel ratio (`fuzz.ratio`): normalized Indel similarity × 100, where
  *    Indel distance = len1 + len2 − 2·LCS (substitution costs 2). Reference
  *    use: `src/aroa_etl/person_matching/similarity_measures.py:98`.
  *  - `token_set_ratio`: order-free token-set variant
  *    (`similarity_measures.py:108`).
  *  - Jaro similarity (consensus syllable gate,
  *    `src/aroa_etl/enc/matching.py:108`).
  *
  * These run inside UDFs / Aggregators on executors; they are allocation-light
  * and thread-safe (no shared state).
  */
object Fuzz {

  /** rapidfuzz `utils.default_process`: every non-alphanumeric char → space,
    * lowercase, trim ends.
    */
  def defaultProcess(s: String): String = {
    if (s == null) return ""
    // identity fast path (r22): when the char-wise transform would
    // change nothing — every char a lowercase-mapped letter/digit or an
    // INTERIOR space — return the input itself. The blocked joins feed
    // this already-processed strings (lowercased name tokens, digit
    // identifiers) once to three times per scored candidate, so the
    // builder + toString + trim allocations here were a per-pair tax.
    // The fast path triggers only when output == input provably
    // (surrogates/uppercase/other whitespace all fall through).
    var i = 0
    var identity = true
    while (identity && i < s.length) {
      val c = s.charAt(i)
      if (c == ' ') { if (i == 0 || i == s.length - 1) identity = false }
      else if (!Character.isLetterOrDigit(c) || Character.toLowerCase(c) != c)
        identity = false
      i += 1
    }
    if (identity) return s
    val sb = new java.lang.StringBuilder(s.length)
    i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isLetterOrDigit(c)) sb.append(Character.toLowerCase(c))
      else sb.append(' ')
      i += 1
    }
    sb.toString.trim
  }

  /** Length of the longest common subsequence — the inner kernel of every
    * Indel/ratio score, run once (token-set fast path) to three times per
    * candidate pair in the blocked joins' hot loops.
    *
    * The bit-parallel algorithm of Allison & Dix (1986) as formulated by
    * Hyyrö — the same published algorithm rapidfuzz's `lcs_seq` uses — one
    * word op per (row, word) instead of a DP cell. Shorter side ≤ 64 chars
    * (every name token and almost every name cell) runs the single-word
    * variant; longer inputs (the registered `indel_ratio` /
    * `token_set_ratio` SQL UDFs over free text) run the multi-word block
    * variant with an explicit carry chain — O(n·m/64) instead of the old
    * quadratic DP, so a long-document pair is never a per-row time bomb.
    * All branches compute the exact same LCS length.
    */
  def lcsLength(a: CharSequence, b: CharSequence): Int = {
    val (s, t) = if (a.length <= b.length) (a, b) else (b, a)
    val n = s.length
    if (n == 0) 0
    else if (n <= 64) lcsLengthBitParallel(s, t)
    else lcsLengthMultiWord(s, t)
  }

  /** Per-thread match-mask table for the ASCII plane (bit i of entry c =
    * "s.charAt(i) == c"). Reused across calls to avoid a zeroed 1 KiB
    * allocation per scored pair; entries touched by a call are cleared in
    * its finally block, so the table is all-zero between calls even if the
    * (allocation-free) hot loop ever threw.
    */
  private val asciiMaskTable = new ThreadLocal[Array[Long]] {
    override def initialValue(): Array[Long] = new Array[Long](128)
  }

  /** Allison–Dix/Hyyrö bit-parallel LCS, shorter side `s` with
    * 1 ≤ s.length ≤ 64. Row vector S starts all-ones; per char of `t`,
    * with M = match mask of that char against `s`:
    * `u = S & M; S = (S + u) | (S - u)`; LCS = popcount(~S) (bits above
    * s.length never clear, so they contribute nothing). Non-ASCII chars of
    * `s` go to a small linear-probed side table (≤ 64 distinct chars).
    */
  private def lcsLengthBitParallel(s: CharSequence, t: CharSequence): Int = {
    val n = s.length
    val ascii = asciiMaskTable.get()
    var extraChars: Array[Char] = null
    var extraMasks: Array[Long] = null
    var extraCount = 0
    try {
      var i = 0
      while (i < n) {
        val c = s.charAt(i)
        if (c < 128) ascii(c) |= 1L << i
        else {
          if (extraChars == null) {
            extraChars = new Array[Char](n)
            extraMasks = new Array[Long](n)
          }
          var k = 0
          var found = false
          while (k < extraCount && !found) {
            if (extraChars(k) == c) { extraMasks(k) |= 1L << i; found = true }
            k += 1
          }
          if (!found) {
            extraChars(extraCount) = c
            extraMasks(extraCount) = 1L << i
            extraCount += 1
          }
        }
        i += 1
      }
      var vec = -1L
      val m = t.length
      var j = 0
      while (j < m) {
        val c = t.charAt(j)
        var mask = 0L
        if (c < 128) mask = ascii(c)
        else {
          var k = 0
          while (k < extraCount) {
            if (extraChars(k) == c) { mask = extraMasks(k); k = extraCount }
            else k += 1
          }
        }
        val u = vec & mask
        vec = (vec + u) | (vec - u)
        j += 1
      }
      java.lang.Long.bitCount(~vec)
    } finally {
      var i = 0
      while (i < n) {
        val c = s.charAt(i)
        if (c < 128) ascii(c) = 0L
        i += 1
      }
    }
  }

  /** Per-thread Latin-1 mask-pointer table for the multi-word branch —
    * same rationale as [[asciiMaskTable]]: the 256-slot pointer array
    * (~2 KiB) is reused across calls instead of allocated per scored
    * pair, with touched entries nulled in the finally block. The
    * per-distinct-char mask arrays themselves are per-call (their width
    * depends on the call's word count).
    */
  private val latinMaskTable = new ThreadLocal[Array[Array[Long]]] {
    override def initialValue(): Array[Array[Long]] = new Array[Array[Long]](256)
  }

  /** Multi-word (block) bit-parallel LCS for shorter side > 64 chars —
    * Hyyrö's block formulation: the row vector spans ⌈n/64⌉ words, the
    * `S + u` add carries an explicit chain across words, and `S - u`
    * never borrows (u ⊆ S bitwise), so each word subtracts
    * independently. A char of `t` absent from `s` has u = 0 and leaves S
    * unchanged — skipped without touching the words. Match masks live in
    * the per-thread Latin-1 pointer table plus a map for the rest;
    * per-call allocation is O(distinct chars × words) mask words.
    */
  private def lcsLengthMultiWord(s: CharSequence, t: CharSequence): Int = {
    val n = s.length
    val words = (n + 63) >>> 6
    val latin = latinMaskTable.get()
    var other: java.util.HashMap[Character, Array[Long]] = null
    try {
      var i = 0
      while (i < n) {
        val c = s.charAt(i)
        var m: Array[Long] = null
        if (c < 256) {
          m = latin(c)
          if (m == null) { m = new Array[Long](words); latin(c) = m }
        } else {
          if (other == null) other = new java.util.HashMap[Character, Array[Long]]()
          m = other.get(c)
          if (m == null) { m = new Array[Long](words); other.put(c, m) }
        }
        m(i >>> 6) |= 1L << (i & 63)
        i += 1
      }
      val vec = new Array[Long](words)
      java.util.Arrays.fill(vec, -1L)
      val tLen = t.length
      var j = 0
      while (j < tLen) {
        val c = t.charAt(j)
        val mask =
          if (c < 256) latin(c)
          else if (other != null) other.get(c)
          else null
        if (mask != null) {
          var carry = 0L
          var w = 0
          while (w < words) {
            val sw = vec(w)
            val u = sw & mask(w)
            val sum1 = sw + u
            // unsigned overflow of (sw + u); the +carry add can only
            // overflow when sum1 is all-ones, and the two cases are
            // mutually exclusive (an overflowed sum1 is ≤ 2^64 − 2)
            val c1 = if (java.lang.Long.compareUnsigned(sum1, sw) < 0) 1L else 0L
            val c2 = if (carry == 1L && sum1 == -1L) 1L else 0L
            vec(w) = (sum1 + carry) | (sw - u)
            carry = c1 | c2
            w += 1
          }
        }
        j += 1
      }
      var zeros = 0
      var w = 0
      while (w < words) { zeros += java.lang.Long.bitCount(~vec(w)); w += 1 }
      zeros
    } finally {
      var i = 0
      while (i < n) {
        val c = s.charAt(i)
        if (c < 256) latin(c) = null
        i += 1
      }
    }
  }

  /** Two-row DP — the straightforward reference implementation both
    * bit-parallel branches are property-tested against (no production
    * caller; O(n·m) time). Argument order is irrelevant to the result
    * (the DP is symmetric); passing the shorter side first just keeps
    * the row arrays smaller, and an empty first side returns 0.
    */
  private[graft] def lcsLengthDp(s: CharSequence, t: CharSequence): Int = {
    val n = s.length
    val prev = new Array[Int](n + 1)
    val cur = new Array[Int](n + 1)
    var j = 0
    while (j < t.length) {
      val tc = t.charAt(j)
      var i = 0
      while (i < n) {
        cur(i + 1) =
          if (s.charAt(i) == tc) prev(i) + 1
          else math.max(prev(i + 1), cur(i))
        i += 1
      }
      System.arraycopy(cur, 0, prev, 0, n + 1)
      j += 1
    }
    prev(n)
  }

  /** Indel (insert/delete-only edit) distance. */
  def indelDistance(a: String, b: String): Int =
    a.length + b.length - 2 * lcsLength(a, b)

  /** `fuzz.ratio` without preprocessing: 0.0–100.0. */
  def ratioRaw(a: String, b: String): Double = {
    if (a == b) return 100.0 // exact: Indel distance 0 (covers both-empty)
    val lensum = a.length + b.length
    if (lensum == 0) 100.0
    else 100.0 * (1.0 - indelDistance(a, b).toDouble / lensum)
  }

  /** `fuzz.ratio(a, b, processor=utils.default_process)`.
    *
    * Equal-input fast path (r22): `defaultProcess` is a pure function,
    * so equal inputs (including null == null → "" == "") reach
    * `ratioRaw`'s `a == b` branch and score 100.0 unconditionally —
    * the check skips both process scans. Exactness pinned in FuzzSpec.
    */
  def ratio(a: String, b: String): Double =
    if (a == b) 100.0 else ratioRaw(defaultProcess(a), defaultProcess(b))

  /** `fuzz.token_set_ratio(a, b, processor=utils.default_process)`.
    *
    * Algorithm (rapidfuzz): split into unique tokens; if the intersection is
    * non-empty and either side has no extra tokens → 100. Otherwise score is
    * the max of (diffA vs diffB Indel over the full joined strings) and the
    * two sect-vs-sect+diff ratios, where the intersection contributes an
    * exactly-matching prefix of known length.
    */
  // hoisted: String.split(regex) compiles a Pattern per call, and this
  // runs twice per scored pair in the blocked join's hot path
  private val Whitespace = java.util.regex.Pattern.compile("\\s+")

  def tokenSetRatio(a: String, b: String): Double = {
    // equal-input fast path (r22): same argument as [[ratio]] — equal
    // raw inputs process equal and hit the `pa == pb` return below
    if (a == b) return 100.0
    val pa = defaultProcess(a)
    val pb = defaultProcess(b)
    // exact: equal processed strings have identical token sets → both
    // diffs empty → 100 (also covers the both-empty rule below)
    if (pa == pb) return 100.0
    // exact: single-token inputs (no interior space after processing)
    // have an empty intersection and singleton diffs, so the full
    // formula degenerates to the plain Indel ratio of the processed
    // strings (sectLen = 0 kills the two sect branches); an empty side
    // gives 0 either way. The common case in name matching — skips all
    // set machinery.
    if (pa.indexOf(' ') < 0 && pb.indexOf(' ') < 0) return ratioRaw(pa, pb)
    val ta = Whitespace.split(pa).filter(_.nonEmpty).toSet
    val tb = Whitespace.split(pb).filter(_.nonEmpty).toSet
    // rapidfuzz: two strings that BOTH process to nothing are a full match;
    // only an asymmetric empty side scores 0.
    if (ta.isEmpty && tb.isEmpty) return 100.0
    if (ta.isEmpty || tb.isEmpty) return 0.0
    val sect = ta.intersect(tb)
    val diffAb = (ta -- tb).toArray.sorted
    val diffBa = (tb -- ta).toArray.sorted
    if (sect.nonEmpty && (diffAb.isEmpty || diffBa.isEmpty)) return 100.0

    val abJoined = diffAb.mkString(" ")
    val baJoined = diffBa.mkString(" ")
    val sectLen = if (sect.isEmpty) 0 else sect.iterator.map(_.length).sum + sect.size - 1
    val sectBonus = if (sectLen != 0) 1 else 0
    val sectAbLen = sectLen + sectBonus + abJoined.length
    val sectBaLen = sectLen + sectBonus + baJoined.length

    def norm(dist: Int, lensum: Int): Double =
      if (lensum == 0) 1.0 else 1.0 - dist.toDouble / lensum

    val distDiff = indelDistance(abJoined, baJoined)
    var best = norm(distDiff, sectAbLen + sectBaLen)
    if (sectLen != 0) {
      val sectAbDist = sectBonus + abJoined.length
      val sectBaDist = sectBonus + baJoined.length
      best = math.max(best, norm(sectAbDist, sectLen + sectAbLen))
      best = math.max(best, norm(sectBaDist, sectLen + sectBaLen))
    }
    best * 100.0
  }

  /** Jaro similarity, 0.0–1.0 (jellyfish-compatible standard definition). */
  def jaro(a: String, b: String): Double = {
    val la = a.length
    val lb = b.length
    if (la == 0 && lb == 0) return 1.0
    if (la == 0 || lb == 0) return 0.0
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    val matchedA = new Array[Boolean](la)
    val matchedB = new Array[Boolean](lb)
    var matches = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!matchedB(j) && a.charAt(i) == b.charAt(j)) {
          matchedA(i) = true; matchedB(j) = true; matches += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (matches == 0) return 0.0
    var transpositions = 0
    var k = 0
    i = 0
    while (i < la) {
      if (matchedA(i)) {
        while (!matchedB(k)) k += 1
        if (a.charAt(i) != b.charAt(k)) transpositions += 1
        k += 1
      }
      i += 1
    }
    val m = matches.toDouble
    // jellyfish halves the transposition count with TRUE division; integer
    // halving would inflate odd-transposition pairs (e.g. "abcdef" vs
    // "bcadef": 0.944 instead of jellyfish's 0.917).
    (m / la + m / lb + (m - transpositions / 2.0) / m) / 3.0
  }
}
