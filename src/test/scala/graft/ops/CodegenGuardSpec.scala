package graft.ops

import graft.SparkSpec

/** Regression guard for the LSH signing codegen cliff (round 5): with
  * `spark.sql.codegen.fallback=false` a whole-stage compile failure THROWS
  * instead of silently degrading to interpreted execution, so this spec
  * fails if the signing stage ever again generates code that scales with
  * (tables x planes x dims). The forced 64-table / 16-plane / 64-dim
  * configuration is the auto-param ceiling a ~10^6-vector corpus reaches
  * — the exact shape whose unrolled-literal formulation compiled a
  * >10k-line method and fell out of codegen (see
  * [[graft.functions.LshSigsExpr]]).
  * `spark.sql.codegen.fallback` is a runtime SQL conf, so it is flipped on
  * the shared session for the duration and restored after. */
class CodegenGuardSpec extends SparkSpec {

  test("LSH signing at the 64-table auto-param ceiling stays inside codegen") {
    val before = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      import spark.implicits._
      val emb = (0 until 200).map { k =>
        (k.toLong, Array.tabulate(64)(d => math.sin(k * 7 + d * 3).toFloat))
      }.toDF("vec_id", "embedding")
      // forced ceiling params — autoPlanes caps at 16, autoTables at 64
      val sigs = Similarity.lshSignatures(emb, tables = 64, planes = 16)
      assert(sigs.count() === 200L * 64)
      // and the full candidate stage (sig -> valve -> zip self-join)
      val cand = Similarity.annCandidates(emb, tables = 64, planes = 16)
      assert(cand.count() > 0)
    } finally before match {
      case Some(v) => spark.conf.set("spark.sql.codegen.fallback", v)
      case None => spark.conf.unset("spark.sql.codegen.fallback")
    }
  }
}
