package graft.functions

/** Pure string-similarity kernels (called from codegen'd Catalyst
  * expressions and from tests). The reference ships
  * info.debatty:java-string-similarity in its pom but never calls it
  * (SURVEY.md §2.9) — the north rule adds batched Jaro-Winkler /
  * Levenshtein / Monge-Elkan scorers inside blocks; Levenshtein is a Spark
  * built-in, these provide the other two. Implemented from the textbook
  * definitions (Winkler boost 0.1, boost threshold 0.7, prefix cap 4),
  * value-identical to DuckDB's jaro_winkler_similarity (oracle-checked).
  *
  * Allocation discipline: these run millions of times per task inside
  * whole-stage codegen, so the kernels work on character slices with
  * thread-local scratch buffers — no per-call arrays, no substring
  * copies (Monge-Elkan tokenizes by scanning for spaces).
  */
object StringSim {

  private final class Scratch {
    var matchedA = new Array[Boolean](64)
    var matchedB = new Array[Boolean](64)
    var bounds = new Array[Int](64) // token bounds scratch for Monge-Elkan
    var bounds2 = new Array[Int](64)
    def ensure(n: Int): Unit = {
      if (matchedA.length < n) {
        matchedA = new Array[Boolean](math.max(n, matchedA.length * 2))
        matchedB = new Array[Boolean](matchedA.length)
      }
    }
  }

  private val scratch = new ThreadLocal[Scratch] {
    override def initialValue(): Scratch = new Scratch
  }

  /** Jaro over slices [aFrom, aTo) x [bFrom, bTo). */
  private def jaroSlice(a: String, aFrom: Int, aTo: Int,
      b: String, bFrom: Int, bTo: Int): Double = {
    val la = aTo - aFrom; val lb = bTo - bFrom
    if (la == 0 && lb == 0) return 1.0
    if (la == 0 || lb == 0) return 0.0
    if (la == 1 && lb == 1) return if (a.charAt(aFrom) == b.charAt(bFrom)) 1.0 else 0.0
    val s = scratch.get()
    s.ensure(math.max(la, lb))
    val mA = s.matchedA; val mB = s.matchedB
    java.util.Arrays.fill(mA, 0, la, false)
    java.util.Arrays.fill(mB, 0, lb, false)
    val window = math.max(0, math.max(la, lb) / 2 - 1)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!mB(j) && a.charAt(aFrom + i) == b.charAt(bFrom + j)) {
          mA(i) = true; mB(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var t = 0
    var k = 0
    i = 0
    while (i < la) {
      if (mA(i)) {
        while (!mB(k)) k += 1
        if (a.charAt(aFrom + i) != b.charAt(bFrom + k)) t += 1
        k += 1
      }
      i += 1
    }
    val mm = m.toDouble
    // half-transpositions floored (commons/DuckDB convention)
    (mm / la + mm / lb + (mm - (t / 2)) / mm) / 3.0
  }

  private def jaroWinklerSlice(a: String, aFrom: Int, aTo: Int,
      b: String, bFrom: Int, bTo: Int): Double = {
    val j = jaroSlice(a, aFrom, aTo, b, bFrom, bTo)
    if (j <= 0.7) return j
    var prefix = 0
    val max = math.min(4, math.min(aTo - aFrom, bTo - bFrom))
    while (prefix < max && a.charAt(aFrom + prefix) == b.charAt(bFrom + prefix)) prefix += 1
    j + prefix * 0.1 * (1.0 - j)
  }

  def jaroWinkler(a: String, b: String): Double =
    jaroWinklerSlice(a, 0, a.length, b, 0, b.length)

  /** Write (from, to) slice bounds of space-separated non-empty tokens into
    * `out` (flat pairs); returns token count. */
  private def tokenBounds(s: String, out: Array[Int]): Int = {
    var n = 0
    var i = 0
    val len = s.length
    while (i < len && n * 2 + 1 < out.length) {
      while (i < len && s.charAt(i) == ' ') i += 1
      if (i < len) {
        val from = i
        while (i < len && s.charAt(i) != ' ') i += 1
        out(n * 2) = from; out(n * 2 + 1) = i; n += 1
      }
    }
    n
  }

  /** Monge-Elkan over whitespace tokens: mean over a's tokens of the max
    * Jaro-Winkler against b's tokens. Asymmetric by definition. */
  def mongeElkan(a: String, b: String): Double = {
    val s = scratch.get()
    val aBounds = s.bounds
    val na = tokenBounds(a, aBounds)
    if (na == 0) return 0.0
    val bBounds = s.bounds2
    val nb = tokenBounds(b, bBounds)
    if (nb == 0) return 0.0
    var sum = 0.0
    var i = 0
    while (i < na) {
      var best = 0.0
      var j = 0
      while (j < nb) {
        val v = jaroWinklerSlice(a, aBounds(2 * i), aBounds(2 * i + 1),
          b, bBounds(2 * j), bBounds(2 * j + 1))
        if (v > best) best = v
        j += 1
      }
      sum += best
      i += 1
    }
    sum / na
  }
}
