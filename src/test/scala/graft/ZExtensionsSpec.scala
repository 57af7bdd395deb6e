package graft

import scala.util.{Failure, Success, Try}

import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{AnalysisException, Row, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.GraftFunctions

/** Both SQL-function paths, row by row of [[GraftFunctions.functions]]:
  * every call runs first in a session configured with
  * `spark.sql.extensions=graft.GraftExtensions` (no registry call),
  * then again after `GraftFunctions.register` in the same session, and
  * the two outcomes — result rows, or the error's class and condition —
  * must be equal. (Named Z* so the session swap happens after the
  * shared-session suites; it restores an active default session on
  * exit either way.)
  */
class ZExtensionsSpec extends AnyFunSuite {

  private val v = "array(CAST(0.5 AS FLOAT), CAST(-0.25 AS FLOAT), CAST(1.0 AS FLOAT))"
  private val w = "array(CAST(0.1 AS FLOAT), CAST(0.75 AS FLOAT), CAST(-1.0 AS FLOAT))"
  private val u = "array(CAST(0.5 AS FLOAT), CAST(0.0 AS FLOAT), CAST(0.9 AS FLOAT))"
  private val hs = "array(1L, 2L, 3L)"
  private val scored = "array(" +
    s"named_struct('c', 2L, 'cos_e6', 900000L, 'emb', $w), " +
    s"named_struct('c', 3L, 'cos_e6', 800000L, 'emb', $u))"
  private val corpus = "array(" +
    s"named_struct('v', 1L, 'emb', $v), named_struct('v', 2L, 'emb', $w), " +
    s"named_struct('v', 3L, 'emb', $u))"

  /** Per table row: one valid call at each valid arity, then one call
    * at a wrong arity.
    */
  private val calls: Map[String, (Seq[String], String)] = Map(
    "cosine_sim" -> (Seq(s"cosine_sim($v, $w)") -> s"cosine_sim($v)"),
    "simhash64" -> (Seq(s"simhash64($hs)") -> s"simhash64($hs, $hs)"),
    "simhash64w" -> (Seq(s"simhash64w($hs, array(1.0D, 2.0D, 0.5D))") -> s"simhash64w($hs)"),
    "minhash_sig" -> (Seq(s"minhash_sig($hs)", s"minhash_sig($hs, 64)") ->
      s"minhash_sig($hs, 64, 1)"),
    "intersect_card" -> (Seq(s"intersect_card($hs, array(2L, 4L))") -> s"intersect_card($hs)"),
    "union_card" -> (Seq(s"union_card($hs, array(2L, 4L))") -> s"union_card($hs, $hs, $hs)"),
    "hash60" -> (Seq("hash60('hello')") -> "hash60('a', 'b')"),
    "lsh_bucket" -> (Seq(s"lsh_bucket($v, 3, 16)") -> s"lsh_bucket($v, 3)"),
    "rp_project" -> (Seq(s"rp_project($v, 8)") -> s"rp_project($v)"),
    "robust_prune" -> (Seq(s"robust_prune($scored, 2, 6, 5)") -> s"robust_prune($scored, 2, 6)"),
    "robust_prune_idx" -> (Seq(s"robust_prune_idx(1L, array(2L, 3L), $corpus, 2, 6, 5)") ->
      s"robust_prune_idx(1L, array(2L, 3L), $corpus, 2, 6)"))

  /** Literal arguments that would silently wrap, truncate or crash a
    * task: both paths reject them at analysis time.
    */
  private val badLiterals = Seq(
    s"minhash_sig($hs, 0)",
    s"minhash_sig($hs, 1 + 1)",
    s"minhash_sig($hs, DATE '1970-01-09')",
    s"lsh_bucket($v, 3, 0)",
    s"lsh_bucket($v, 3, 65)",
    s"rp_project($v, 0)",
    s"rp_project($v, -4)",
    s"robust_prune($scored, 0, 6, 5)",
    s"robust_prune($scored, 3000000000L, 6, 5)",
    s"robust_prune_idx(1L, array(2L, 3L), $corpus, 2, 6, 0)")

  private type Outcome = Either[(String, Option[String]), Seq[Row]]

  private def outcome(spark: SparkSession, call: String): Outcome =
    Try(spark.sql(s"SELECT $call AS x").collect().toSeq) match {
      case Success(rows) => Right(rows)
      case Failure(e) =>
        Left(e.getClass.getName -> (e match {
          case t: SparkThrowable => Option(t.getCondition)
          case _                 => None
        }))
    }

  test("both SQL-function paths agree on every table row: results and errors") {
    assert(calls.keySet == GraftFunctions.functions.map(_.name).toSet)
    val all = calls.values.toSeq.flatMap { case (ok, bad) => ok :+ bad } ++ badLiterals
    SparkSession.getActiveSession.foreach(_.stop())
    val spark = SparkSession
      .builder()
      .master("local[2]")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      val viaExtensions = all.map(c => c -> outcome(spark, c)).toMap
      GraftFunctions.register(spark)
      val viaRegister = all.map(c => c -> outcome(spark, c)).toMap
      all.foreach(c => assert(viaExtensions(c) == viaRegister(c), c))

      val wrongArity = Left(classOf[AnalysisException].getName ->
        Some("WRONG_NUM_ARGS.WITHOUT_SUGGESTION"))
      calls.values.foreach { case (ok, bad) =>
        ok.foreach(c => assert(viaExtensions(c).isRight, s"$c: ${viaExtensions(c)}"))
        assert(viaExtensions(bad) == wrongArity, bad)
      }
      badLiterals.foreach(c =>
        assert(viaExtensions(c) == Left(classOf[IllegalArgumentException].getName -> None), c))

      def value(c: String): Any = viaExtensions(c).toOption.get.head.get(0)
      def width(c: String): Int = value(c).asInstanceOf[scala.collection.Seq[_]].size
      assert(width(s"minhash_sig($hs)") == 32)
      assert(width(s"minhash_sig($hs, 64)") == 64)
      assert(width(s"rp_project($v, 8)") == 8)
      // hash60('hello') = 0x5d41402abc4b2a7 (first 15 md5 hex digits)
      assert(value("hash60('hello')") == 419982666956583591L)
      assert(value(s"intersect_card($hs, array(2L, 4L))") == 1)
      assert(value(s"union_card($hs, array(2L, 4L))") == 4)
    } finally {
      spark.stop()
      GraftSession.local(4) // restore an active default for any later suite
    }
  }
}
