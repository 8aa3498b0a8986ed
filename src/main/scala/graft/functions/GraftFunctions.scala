package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, UnaryExpression, Expression, ExpectsInputTypes, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.engine.Phonetics

/** Custom Catalyst expressions (SURVEY.md §4.2: the only extension surface
  * this engine needs — no new logical operators, so no Rule/SparkStrategy).
  * All implement full `doGenCode` as a static call into the pure kernels,
  * staying inside whole-stage codegen on the scoring hot path; no Scala
  * UDF boxing.
  *
  * Entry points for Java codegen live in [[GraftFunctions]] (static-ish
  * object methods referenced by fully-qualified name).
  */
object GraftFunctions {

  // codegen-visible static entry points (UTF8String in/out)
  def jaroWinkler(a: UTF8String, b: UTF8String): Double =
    StringSim.jaroWinkler(a.toString, b.toString)
  def mongeElkan(a: UTF8String, b: UTF8String): Double =
    StringSim.mongeElkan(a.toString, b.toString)
  def soundex(a: UTF8String): UTF8String =
    UTF8String.fromString(Phonetics.soundex(a.toString))

  /** Dot product of two float arrays, accumulated in index order as
    * doubles — bit-identical to `aggregate(zip_with(a, b, (x, y) ->
    * cast(x as double) * cast(y as double)), 0D, (acc, v) -> acc + v)`
    * (the interpreted HOF chain it replaces on the ANN verify hot path:
    * HOF lambdas don't participate in whole-stage codegen and box every
    * element). A NULL element — or a length mismatch, which zip_with pads
    * with NULLs — yields a NULL result, like the HOF chain: one corrupt or
    * truncated embedding row must degrade to an ignored row, not kill the
    * job with an executor exception or fold into a plausible wrong value. */
  def dotF(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getFloat(i).toDouble; i += 1
    }
    acc
  }

  /** Dot of a float array against a double array (inlined IVF centroid),
    * same accumulation order and NULL-element / length-mismatch semantics
    * as the HOF chain it replaces. */
  def dotFD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * b.getDouble(i); i += 1
    }
    acc
  }

  /** double x float / double x double / norm-of-double variants: a
    * double-typed corpus keeps its elements LOSSLESS (the HOF chain being
    * replaced computed double elements exactly; an implicit
    * array<double> -> array<float> downcast would silently change its
    * numerics). The dot/norm expressions dispatch on the resolved child
    * element type, so each combination calls its own branch-free kernel. */
  def dotDF(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getFloat(i).toDouble; i += 1
    }
    acc
  }

  def dotDD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var acc = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      acc += a.getDouble(i) * b.getDouble(i); i += 1
    }
    acc
  }

  /** All-tables LSH sign signatures in one pass: element t of the result
    * is the sum over planes p of (1L << p) where the index-order double
    * dot of the row against plane (t, p)'s ±1 weight vector is > 0.
    * `w` is the flat weight array laid out (t * planes + p) * dims + d.
    *
    * Per-plane parity with the unrolled `CASE WHEN graft_dot_fd(emb,
    * array(<literals>)) > 0` chain this replaces: same accumulation order
    * (bit-identical sign), and a corrupt plane dot — NULL element or a
    * width-mismatched row — contributes bit 0 instead of poisoning the
    * job. The replacement exists because the unrolled form inlines
    * tables x planes x dims literal doubles into ONE generated method: at
    * the auto params of a large corpus (~64 tables x 12 planes x 64+
    * dims) that is a >10k-line method, past janino's limits, and the
    * whole index-build stage silently fell back to interpreted execution.
    * This kernel keeps the stage inside whole-stage codegen with O(1)
    * generated code at any parameter setting. */
  def lshSigsF(a: ArrayData, tables: Int, planes: Int, dims: Int,
      w: Array[Double]): Array[Long] = {
    val out = new Array[Long](tables)
    val widthOk = a.numElements() == dims
    var t = 0
    while (t < tables) {
      var sig = 0L
      var p = 0
      while (p < planes) {
        if (widthOk) {
          val base = (t * planes + p) * dims
          var acc = 0.0; var i = 0; var bad = false
          while (i < dims && !bad) {
            if (a.isNullAt(i)) bad = true
            else { acc += a.getFloat(i).toDouble * w(base + i); i += 1 }
          }
          if (!bad && acc > 0) sig |= (1L << p)
        }
        p += 1
      }
      out(t) = sig; t += 1
    }
    out
  }

  /** [[lshSigsF]] for array<double> rows (lossless, like [[dotDD]]). */
  def lshSigsD(a: ArrayData, tables: Int, planes: Int, dims: Int,
      w: Array[Double]): Array[Long] = {
    val out = new Array[Long](tables)
    val widthOk = a.numElements() == dims
    var t = 0
    while (t < tables) {
      var sig = 0L
      var p = 0
      while (p < planes) {
        if (widthOk) {
          val base = (t * planes + p) * dims
          var acc = 0.0; var i = 0; var bad = false
          while (i < dims && !bad) {
            if (a.isNullAt(i)) bad = true
            else { acc += a.getDouble(i) * w(base + i); i += 1 }
          }
          if (!bad && acc > 0) sig |= (1L << p)
        }
        p += 1
      }
      out(t) = sig; t += 1
    }
    out
  }

  def normD(a: ArrayData): java.lang.Double = {
    val n = a.numElements()
    var acc = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      acc += a.getDouble(i) * a.getDouble(i); i += 1
    }
    math.sqrt(acc)
  }

  /** L2 norm of a float array, squares summed in index order — matches
    * `sqrt(aggregate(transform(a, x -> cast(x as double) * cast(x as
    * double)), 0D, (acc, v) -> acc + v))` including NULL-element
    * propagation. */
  def normF(a: ArrayData): java.lang.Double = {
    val n = a.numElements()
    var acc = 0.0; var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      acc += a.getFloat(i).toDouble * a.getFloat(i).toDouble; i += 1
    }
    math.sqrt(acc)
  }

  // ---- blocking kernels (round 6): the per-row array work of the
  // prefix-filtered blocking join, as codegen'd tight loops. The
  // filter/aggregate/transform/array_sort higher-order functions they
  // replace are CodegenFallback expressions whose lambdas run interpreted
  // per ELEMENT — measured as the dominant per-row cost of the blocking
  // stage once the plan itself was deduplicated (guide §1.2 step 2:
  // per-task work, after the distributed shape is right).

  /** Sort array<struct<df:long, token:string>> by (df asc, token asc) and
    * drop exact duplicates — the codegen'd equivalent of
    * array_distinct(array_sort(...)): same binary UTF8String ordering as
    * Spark's default struct comparator, duplicates (equal df AND token)
    * collapse to one entry. (df asc) is exactly the blocking window order
    * (sim desc): sim = 1/df. */
  def blockSort(a: ArrayData): ArrayData = {
    val n = a.numElements()
    val dfs = new Array[Long](n)
    val toks = new Array[UTF8String](n)
    var i = 0
    while (i < n) {
      val r = a.getStruct(i, 2)
      dfs(i) = r.getLong(0); toks(i) = r.getUTF8String(1); i += 1
    }
    // insertion sort: names have 1-6 tokens
    i = 1
    while (i < n) {
      val d = dfs(i); val t = toks(i)
      var j = i - 1
      while (j >= 0 && (dfs(j) > d || (dfs(j) == d && toks(j).compareTo(t) > 0))) {
        dfs(j + 1) = dfs(j); toks(j + 1) = toks(j); j -= 1
      }
      dfs(j + 1) = d; toks(j + 1) = t
      i += 1
    }
    val out = new Array[Any](n)
    var m = 0
    i = 0
    while (i < n) {
      if (i == 0 || dfs(i) != dfs(i - 1) || !toks(i).equals(toks(i - 1))) {
        out(m) = org.apache.spark.sql.catalyst.InternalRow(dfs(i), toks(i))
        m += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (m == n) out else out.take(m))
  }

  /** Token array of the cap-surviving entries of a sorted (df, token)
    * array: maxDf < 0 = no cap. Codegen'd twin of
    * `transform(filter(ts, x -> x.df <= cap), x -> x.token)`. */
  def blockToks(a: ArrayData, maxDf: Long): ArrayData = {
    val n = a.numElements()
    val out = new Array[Any](n)
    var m = 0
    var i = 0
    while (i < n) {
      val r = a.getStruct(i, 2)
      if (maxDf < 0 || r.getLong(0) <= maxDf) { out(m) = r.getUTF8String(1); m += 1 }
      i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      if (m == n) out else out.take(m))
  }

  /** Destination-side derivations of the blocking join from the sorted
    * (df, token) array, in ONE pass: (tsc = cap-surviving entries,
    * self_sim = sum of 1/df over ALL entries in array order, plen = count
    * of tsc positions whose suffix mass >= relSimTh * self_sim - eps).
    * Each suffix mass is folded from 0.0 in array order — bit-identical to
    * both the HOF spelling (aggregate(slice(...), 0D, ...)) and the
    * round-5 UnboundedFollowing window frame, which recomputed the sum per
    * row from the current row to the partition end. */
  def blockDst(a: ArrayData, maxDf: Long, relSimTh: Double): InternalRow = {
    val n = a.numElements()
    var selfSim = 0.0
    val cdfs = new Array[Long](n)
    val ctoks = new Array[Any](n)
    var m = 0
    var i = 0
    while (i < n) {
      val r = a.getStruct(i, 2)
      val df = r.getLong(0)
      selfSim += 1.0 / df
      if (maxDf < 0 || df <= maxDf) { cdfs(m) = df; ctoks(m) = r.getUTF8String(1); m += 1 }
      i += 1
    }
    val th = relSimTh * selfSim - graft.pipeline.Blocking.eps
    // suffix mass strictly decreases (1/df > 0), so the passing positions
    // form a prefix: counting until the first miss equals the HOF filter's
    // count over all positions
    var plen = 0
    var miss = false
    i = 0
    while (i < m && !miss) {
      var acc = 0.0
      var j = i
      while (j < m) { acc += 1.0 / cdfs(j); j += 1 }
      if (acc >= th) plen += 1 else miss = true
      i += 1
    }
    val tsc = new Array[Any](m)
    i = 0
    while (i < m) {
      tsc(i) = org.apache.spark.sql.catalyst.InternalRow(cdfs(i), ctoks(i)); i += 1
    }
    org.apache.spark.sql.catalyst.InternalRow(
      new org.apache.spark.sql.catalyst.util.GenericArrayData(tsc), selfSim, plen)
  }

  /** Pair-granularity dedup + verification of the blocking join in one
    * pass over the carried arrays: returns NULL unless `token` is the
    * dst's FIRST prefix token (position < plen in the sorted capped array)
    * shared with the org — so each surviving (dst, org) pair is emitted
    * exactly once — and otherwise (common_cnt, sum_sim) over ALL shared
    * capped entries, 1/df summed in array order (the same fold as the HOF
    * spelling it replaces). */
  def blockPair(tsc: ArrayData, plen: Int, otoks: ArrayData,
      token: UTF8String): InternalRow = {
    val n = tsc.numElements()
    val m = otoks.numElements()
    var first: UTF8String = null
    var cnt = 0
    var sum = 0.0
    var i = 0
    while (i < n) {
      val r = tsc.getStruct(i, 2)
      val t = r.getUTF8String(1)
      var inO = false
      var j = 0
      while (j < m && !inO) { if (otoks.getUTF8String(j).equals(t)) inO = true; j += 1 }
      if (inO) {
        if (first == null && i < plen) first = t
        cnt += 1
        sum += 1.0 / r.getLong(0)
      }
      i += 1
    }
    if (first == null || !first.equals(token)) null
    else org.apache.spark.sql.catalyst.InternalRow(cnt, sum)
  }

  /** First index where BOTH positional arrays hold a non-null, equal
    * entry; -1 when none — the codegen'd twin of
    * `array_position(zip_with(a, b, (x, y) -> coalesce(x = y, false)), true) - 1`
    * (the first-surviving-shared-bucket pair-dedup rule of
    * Similarity.annCandidates / TextDedup.lshPairs). The HOF chain it
    * replaces is a CodegenFallback island evaluated per ELEMENT with boxed
    * lambdas on every joined candidate row — measured as the dominant cost
    * of the ANN candidate stage once the join itself was cheap. Long
    * variant (LSH signatures): */
  def firstSharedL(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) && a.getLong(i) == b.getLong(i))
        return i
      i += 1
    }
    -1
  }

  /** [[firstSharedL]] for string entries (LSH band bucket keys). */
  def firstSharedS(a: ArrayData, b: ArrayData): Int = {
    val n = math.min(a.numElements(), b.numElements())
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i) &&
        a.getUTF8String(i).equals(b.getUTF8String(i))) return i
      i += 1
    }
    -1
  }

  private val O = "graft.functions.GraftFunctions"

  /** Register all graft expressions as session temp functions, usable from
    * both the DataFrame API (expr(...)) and SQL. Idempotent. */
  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    reg.createOrReplaceTempFunction("graft_jaro_winkler",
      (es: Seq[Expression]) => JaroWinklerExpr(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_monge_elkan",
      (es: Seq[Expression]) => MongeElkanExpr(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_soundex",
      (es: Seq[Expression]) => SoundexExpr(es(0)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_dot_f",
      (es: Seq[Expression]) => DotFExpr(es(0), es(1)), "scala_udf")
    // graft_dot_fd is kept as an alias (oracle SQL and the sigColumn /
    // centroid projections use it); both names dispatch on element types
    reg.createOrReplaceTempFunction("graft_dot_fd",
      (es: Seq[Expression]) => DotFExpr(es(0), es(1)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_norm_f",
      (es: Seq[Expression]) => NormFExpr(es(0)), "scala_udf")
    // graft_lsh_sigs(emb, tables, planes, dims): the three parameters must
    // be integer literals (they shape the weight table at plan time)
    reg.createOrReplaceTempFunction("graft_lsh_sigs",
      (es: Seq[Expression]) => LshSigsExpr(es(0), LshSigsExpr.litInt(es(1)),
        LshSigsExpr.litInt(es(2)), LshSigsExpr.litInt(es(3))), "scala_udf")
    // blocking kernels: scalar params must fold to literals (plan-time
    // shape, like graft_lsh_sigs)
    reg.createOrReplaceTempFunction("graft_block_sort",
      (es: Seq[Expression]) => BlockSortExpr(es(0)), "scala_udf")
    reg.createOrReplaceTempFunction("graft_block_toks",
      (es: Seq[Expression]) => BlockToksExpr(es(0), LshSigsExpr.litLong(es(1))),
      "scala_udf")
    reg.createOrReplaceTempFunction("graft_block_dst",
      (es: Seq[Expression]) => BlockDstExpr(es(0), LshSigsExpr.litLong(es(1)),
        LshSigsExpr.litDouble(es(2))), "scala_udf")
    reg.createOrReplaceTempFunction("graft_block_pair",
      (es: Seq[Expression]) => BlockPairExpr(es(0), es(1), es(2), es(3)),
      "scala_udf")
    reg.createOrReplaceTempFunction("graft_first_shared",
      (es: Seq[Expression]) => FirstSharedExpr(es(0), es(1)), "scala_udf")
  }
}

// ImplicitCastInputTypes (not bare ExpectsInputTypes) on the array
// kernels: the HOF chains they replaced cast elements inline, so any
// array-typed corpus must keep resolving (the analyzer injects an element
// cast) instead of failing with a type mismatch. The wanted element type
// is RESOLVED FROM THE CHILD: an array<double> input stays double (its
// elements are computed losslessly, as the HOF chain did — an implicit
// downcast to float would silently change the numerics of a double-typed
// corpus), everything else casts to float as before. inputTypes is only
// consulted by the analyzer once children are resolved, so dispatching on
// the child's dataType here is safe.
private object ArrayKernelType {
  def elemOf(e: Expression): DataType =
    if (!e.resolved) FloatType // analyzer re-consults once children resolve
    else e.dataType match {
      case ArrayType(DoubleType, _) => DoubleType
      case _ => FloatType
    }
  def isDouble(e: Expression): Boolean = elemOf(e) == DoubleType
}

/** graft_dot_f / graft_dot_fd: dot product of two float/double arrays,
  * accumulated in index order as doubles (see [[GraftFunctions.dotF]]).
  * Both registered names resolve to this expression; the kernel variant
  * is chosen from the resolved element types. */
case class DotFExpr(left: Expression, right: Expression)
    extends BinaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(
    ArrayType(ArrayKernelType.elemOf(left)),
    ArrayType(ArrayKernelType.elemOf(right)))
  override def dataType: DataType = DoubleType
  // nullable even on non-null array columns: a NULL ELEMENT nulls the result
  override def nullable: Boolean = true
  private lazy val kernel =
    (ArrayKernelType.isDouble(left), ArrayKernelType.isDouble(right)) match {
      case (false, false) => "dotF"
      case (false, true) => "dotFD"
      case (true, false) => "dotDF"
      case (true, true) => "dotDD"
    }
  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
    kernel match {
      case "dotF" => GraftFunctions.dotF(x, y)
      case "dotFD" => GraftFunctions.dotFD(x, y)
      case "dotDF" => GraftFunctions.dotDF(x, y)
      case _ => GraftFunctions.dotDD(x, y)
    }
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val r = ctx.freshName("dotRes")
      s"""java.lang.Double $r = graft.functions.GraftFunctions.$kernel($a, $b);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
         |""".stripMargin
    })
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class NormFExpr(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes = Seq(ArrayType(ArrayKernelType.elemOf(child)))
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  private lazy val kernel =
    if (ArrayKernelType.isDouble(child)) "normD" else "normF"
  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    if (kernel == "normD") GraftFunctions.normD(x) else GraftFunctions.normF(x)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val r = ctx.freshName("normRes")
      s"""java.lang.Double $r = graft.functions.GraftFunctions.$kernel($a);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r.doubleValue(); }
         |""".stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** graft_lsh_sigs: all-tables random-hyperplane LSH signatures of one
  * embedding row as array<long> (index = table) — the loop-codegen'd
  * replacement for the unrolled per-table CASE chains (see
  * [[GraftFunctions.lshSigsF]] for why: the unrolled form exceeded
  * janino's method limits at large-corpus auto params and silently
  * dropped the index build out of whole-stage codegen). The md5-parity
  * ±1 weights are deterministic in (t, p, d) — identical to the DuckDB
  * oracle's plane_weights CTE — computed once per plan and shipped to
  * generated code as a reference object, never as literals.
  *
  * NULL-handling: a NULL element (or a width-mismatched row, streaming
  * only — batch fails fast on ragged corpora) degrades the affected
  * plane's bit to 0, exactly like the CASE chain. A NULL embedding now
  * yields a NULL signature array — the row drops out of the bucket
  * explode — where the CASE chain gave it sig 0 in EVERY table,
  * piling all corrupt rows into one hot bucket per table (a skew bomb
  * the valve then had to absorb). */
case class LshSigsExpr(child: Expression, tables: Int, planes: Int, dims: Int)
    extends UnaryExpression with ImplicitCastInputTypes {
  require(tables > 0 && planes > 0 && planes <= 63 && dims > 0,
    s"invalid LSH shape: tables=$tables planes=$planes dims=$dims")
  override def inputTypes = Seq(ArrayType(ArrayKernelType.elemOf(child)))
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  private lazy val kernel =
    if (ArrayKernelType.isDouble(child)) "lshSigsD" else "lshSigsF"
  @transient private lazy val weights: Array[Double] =
    LshSigsExpr.weights(tables, planes, dims)
  override def nullSafeEval(a: Any): Any = {
    val arr = a.asInstanceOf[ArrayData]
    val sigs =
      if (kernel == "lshSigsD") GraftFunctions.lshSigsD(arr, tables, planes, dims, weights)
      else GraftFunctions.lshSigsF(arr, tables, planes, dims, weights)
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(sigs)
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val wRef = ctx.addReferenceObj("lshWeights", weights, "double[]")
      s"""${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray(graft.functions.GraftFunctions.$kernel(
         |    $a, $tables, $planes, $dims, $wRef));
         |""".stripMargin
    })
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

object LshSigsExpr {
  /** Deterministic ±1 hyperplane weight for (table t, plane p, dim d):
    * parity of the first 8 md5 hex chars of "t:p:d" — identical to the
    * oracle's `('0x' || substr(md5(t || ':' || p || ':' || d), 1, 8))
    * ::BIGINT % 2`. */
  def planeWeight(t: Int, p: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$t:$p:$d".getBytes("UTF-8"))
      .take(4).map(b => f"$b%02x").mkString
    if (java.lang.Long.parseLong(hex, 16) % 2 == 0) 1.0 else -1.0
  }

  /** Flat (t * planes + p) * dims + d weight layout for the kernels. */
  def weights(tables: Int, planes: Int, dims: Int): Array[Double] = {
    val w = new Array[Double](tables * planes * dims)
    var t = 0
    while (t < tables) {
      var p = 0
      while (p < planes) {
        var d = 0
        while (d < dims) {
          w((t * planes + p) * dims + d) = planeWeight(t, p, d); d += 1
        }
        p += 1
      }
      t += 1
    }
    w
  }

  /** Registry helper: the shape arguments must fold to integer literals. */
  def litInt(e: Expression): Int = e.eval(null) match {
    case i: Int => i
    case l: Long => l.toInt
    case s: Short => s.toInt
    case other => throw new IllegalArgumentException(
      s"graft_lsh_sigs shape parameters must be integer literals, got $other")
  }

  def litLong(e: Expression): Long = e.eval(null) match {
    case i: Int => i.toLong
    case l: Long => l
    case s: Short => s.toLong
    case other => throw new IllegalArgumentException(
      s"shape parameters must be integer literals, got $other")
  }

  def litDouble(e: Expression): Double = e.eval(null) match {
    case d: Double => d
    case f: Float => f.toDouble
    case dec: org.apache.spark.sql.types.Decimal => dec.toDouble
    case i: Int => i.toDouble
    case l: Long => l.toDouble
    case other => throw new IllegalArgumentException(
      s"shape parameters must be numeric literals, got $other")
  }
}

/** Shared row/array types of the blocking kernels. */
private[functions] object BlockTypes {
  import org.apache.spark.sql.types._
  val entry: StructType = StructType(Seq(
    StructField("df", LongType, nullable = false),
    StructField("token", StringType, nullable = true)))
  val entries: ArrayType = ArrayType(entry, containsNull = false)
  val dstOut: StructType = StructType(Seq(
    StructField("tsc", entries, nullable = false),
    StructField("self_sim", DoubleType, nullable = false),
    StructField("plen", IntegerType, nullable = false)))
  val pairOut: StructType = StructType(Seq(
    StructField("common_cnt", IntegerType, nullable = false),
    StructField("sum_sim", DoubleType, nullable = false)))
}

/** graft_block_sort: sort + dedup of the collected (df, token) entries —
  * see [[GraftFunctions.blockSort]]. */
case class BlockSortExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(BlockTypes.entries)
  override def dataType: DataType = BlockTypes.entries
  override def nullSafeEval(a: Any): Any =
    GraftFunctions.blockSort(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.GraftFunctions.blockSort($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** graft_block_toks(ts, maxDf): token array of cap-surviving entries —
  * see [[GraftFunctions.blockToks]]. maxDf must be an integer literal. */
case class BlockToksExpr(child: Expression, maxDf: Long)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(BlockTypes.entries)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullSafeEval(a: Any): Any =
    GraftFunctions.blockToks(a.asInstanceOf[ArrayData], maxDf)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.GraftFunctions.blockToks($a, ${maxDf}L)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** graft_block_dst(ts, maxDf, relSimTh): (tsc, self_sim, plen) in one pass
  * — see [[GraftFunctions.blockDst]]. Scalar params must be literals. */
case class BlockDstExpr(child: Expression, maxDf: Long, relSimTh: Double)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(BlockTypes.entries)
  override def dataType: DataType = BlockTypes.dstOut
  override def nullSafeEval(a: Any): Any =
    GraftFunctions.blockDst(a.asInstanceOf[ArrayData], maxDf, relSimTh)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      a => s"graft.functions.GraftFunctions.blockDst($a, ${maxDf}L, ${relSimTh}D)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}

/** graft_block_pair(tsc, plen, otoks, token): in-row pair dedup +
  * verification — NULL unless `token` is the dst's first org-shared prefix
  * token, else (common_cnt, sum_sim). See [[GraftFunctions.blockPair]]. */
case class BlockPairExpr(tsc: Expression, plen: Expression, otoks: Expression,
    token: Expression)
    extends org.apache.spark.sql.catalyst.expressions.QuaternaryExpression
    with ExpectsInputTypes {
  override def inputTypes = Seq(BlockTypes.entries,
    org.apache.spark.sql.types.IntegerType,
    ArrayType(StringType), StringType)
  override def first: Expression = tsc
  override def second: Expression = plen
  override def third: Expression = otoks
  override def fourth: Expression = token
  override def dataType: DataType = BlockTypes.pairOut
  override def nullable: Boolean = true
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any =
    GraftFunctions.blockPair(a.asInstanceOf[ArrayData], b.asInstanceOf[Int],
      c.asInstanceOf[ArrayData], d.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, d) => {
      val r = ctx.freshName("pairRes")
      s"""org.apache.spark.sql.catalyst.InternalRow $r =
         |  graft.functions.GraftFunctions.blockPair($a, $b, $c, $d);
         |if ($r == null) { ${ev.isNull} = true; } else { ${ev.value} = $r; }
         |""".stripMargin
    })
  override protected def withNewChildrenInternal(f: Expression, s: Expression,
      t: Expression, q: Expression): Expression =
    copy(tsc = f, plen = s, otoks = t, token = q)
}

/** graft_first_shared(a, b): first index where both positional arrays hold
  * a non-null equal entry, -1 when none — see
  * [[GraftFunctions.firstSharedL]]. Dispatches on the element type (long
  * signatures vs string bucket keys); any other element type is rejected
  * at analysis. */
case class FirstSharedExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  private lazy val elem: DataType =
    if (!left.resolved) LongType
    else left.dataType match {
      case ArrayType(StringType, _) => StringType
      case _ => LongType
    }
  override def inputTypes = Seq(ArrayType(elem), ArrayType(elem))
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  private lazy val kernel = if (elem == StringType) "firstSharedS" else "firstSharedL"
  override def nullSafeEval(a: Any, b: Any): Any =
    if (kernel == "firstSharedS")
      GraftFunctions.firstSharedS(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else
      GraftFunctions.firstSharedL(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.GraftFunctions.$kernel($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class JaroWinklerExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    GraftFunctions.jaroWinkler(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GraftFunctions.jaroWinkler($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class MongeElkanExpr(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType, StringType)
  override def dataType: DataType = DoubleType
  override def nullSafeEval(a: Any, b: Any): Any =
    GraftFunctions.mongeElkan(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GraftFunctions.mongeElkan($a, $b)")
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

case class SoundexExpr(child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes = Seq(StringType)
  override def dataType: DataType = StringType
  override def nullSafeEval(a: Any): Any =
    GraftFunctions.soundex(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, a => s"graft.functions.GraftFunctions.soundex($a)")
  override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
}
