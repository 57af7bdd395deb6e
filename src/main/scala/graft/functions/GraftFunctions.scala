package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{IntegerType, LongType}

/** graft's native Catalyst expressions as SQL functions, so operators
  * can use them via `expr("cosine_sim(a, b)")` — the stable way to lift
  * a catalyst Expression into the Column API across Spark versions
  * (Column-from-Expression constructors are internal in 4.x).
  *
  * [[functions]] is the one definition of each kernel's SQL surface:
  * [[register]] installs it per session and [[graft.GraftExtensions]]
  * session-wide, so both paths expose the same names with the same
  * argument checks.
  */
object GraftFunctions {

  /** One call's arguments, with the literal rule every integer
    * parameter shares.
    */
  final class Args private[GraftFunctions] (fn: String, exprs: Seq[Expression]) {
    def apply(i: Int): Expression = exprs(i)
    def size: Int = exprs.size

    /** Argument `i` as an integer literal in [lo, hi]. Out of range is
      * an analysis-time error, never a silent wrap, truncation or
      * in-task crash.
      */
    def long(i: Int, what: String, lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Long = {
      val v = exprs(i) match {
        case Literal(v: Int, IntegerType) => v.toLong
        case Literal(v: Long, LongType)   => v
        case other =>
          throw new IllegalArgumentException(s"$fn: $what must be an integer literal, got $other")
      }
      if (v < lo || v > hi)
        throw new IllegalArgumentException(s"$fn: $what must be in [$lo, $hi], got $v")
      v
    }

    def int(i: Int, what: String, lo: Int = Int.MinValue, hi: Int = Int.MaxValue): Int =
      long(i, what, lo, hi).toInt
  }

  /** One SQL function: its name, the expression class its
    * `ExpressionInfo` names, and the validated builder both paths call.
    * A silently ignored argument (e.g. `minhash_sig(x, 64)` returning a
    * 32-hash signature) is a wrong-results bug, so the builder rejects
    * every arity not listed.
    */
  final class SqlFunction(val name: String, cls: Class[_ <: Expression], arities: Int*)(
      make: Args => Expression) {
    def info: ExpressionInfo = new ExpressionInfo(cls.getName, name)

    val builder: Seq[Expression] => Expression = args => {
      if (!arities.contains(args.length))
        throw new AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> name,
            "expectedNum" -> arities.mkString(" or "),
            "actualNum" -> args.length.toString,
            "docroot" -> "https://spark.apache.org/docs/latest"))
      make(new Args(name, args))
    }
  }

  val functions: Seq[SqlFunction] = Seq(
    new SqlFunction("cosine_sim", classOf[CosineSim], 2)(a => CosineSim(a(0), a(1))),
    new SqlFunction("simhash64", classOf[SimHash64], 1)(a => SimHash64(a(0))),
    new SqlFunction("simhash64w", classOf[SimHash64Weighted], 2)(a =>
      SimHash64Weighted(a(0), a(1))),
    // optional second arg: numHashes (default 32)
    new SqlFunction("minhash_sig", classOf[MinHashSig], 1, 2)(a =>
      MinHashSig(a(0), if (a.size == 2) a.int(1, "numHashes", lo = 1) else 32)),
    new SqlFunction("intersect_card", classOf[IntersectCard], 2)(a => IntersectCard(a(0), a(1))),
    new SqlFunction("union_card", classOf[UnionCard], 2)(a => UnionCard(a(0), a(1))),
    new SqlFunction("hash60", classOf[Hash60], 1)(a => Hash60(a(0))),
    // bit p of the bucket is 1L << p: 64 bits is the whole long
    new SqlFunction("lsh_bucket", classOf[LshBucket], 3)(a =>
      LshBucket(a(0), a.int(1, "table"), a.int(2, "bits", 1, 64))),
    // the sign matrix holds k × 64 entries
    new SqlFunction("rp_project", classOf[RpProject], 2)(a =>
      RpProject(a(0), a.int(1, "k", 1, Int.MaxValue / 64))),
    new SqlFunction("robust_prune", classOf[RobustPruneExpr], 4)(a =>
      RobustPruneExpr(
        a(0),
        a.int(1, "r", lo = 1),
        a.long(2, "alphaNum", lo = 1),
        a.long(3, "alphaDen", lo = 1))),
    new SqlFunction("robust_prune_idx", classOf[RobustPruneIdxExpr], 6)(a =>
      RobustPruneIdxExpr(
        a(0),
        a(1),
        a(2),
        a.int(3, "r", lo = 1),
        a.long(4, "alphaNum", lo = 1),
        a.long(5, "alphaDen", lo = 1))))

  def register(spark: SparkSession): Unit = {
    if (!spark.experimental.extraOptimizations.contains(RewriteSetCardinality)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ RewriteSetCardinality
    }
    val reg = spark.sessionState.functionRegistry
    functions.foreach(f => reg.createOrReplaceTempFunction(f.name, f.builder, "built-in"))
  }
}
