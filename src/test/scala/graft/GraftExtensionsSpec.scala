package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** The extensions route must expose every native function to PLAIN SQL
  * in a fresh session context, and agree with the per-session
  * register() route (same expression tree → same results). */
class GraftExtensionsSpec extends AnyFunSuite with BeforeAndAfterAll {

  // The `spark.sql.extensions` CONF is static: it only applies when
  // the SparkContext itself is created, and this forked test JVM
  // shares one context across all suites — so drive the injector
  // through builder.withExtensions instead (the conf route calls the
  // exact same GraftExtensions.apply through Spark's applyExtensions).
  // Session slots are cleared so getOrCreate builds a NEW session
  // rather than returning another suite's; afterAll puts the shared
  // session back (later suites resolve SparkSession.active).
  private var saved: Option[(Option[SparkSession], Option[SparkSession])] =
    None

  private lazy val spark = {
    // the shared context first, so the new session reuses it
    TestSpark.spark
    saved = Some((SparkSession.getActiveSession,
      SparkSession.getDefaultSession))
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master("local[2]")
      .appName("graft-extensions-spec")
      .withExtensions(new GraftExtensions()(_))
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }

  override def afterAll(): Unit = {
    // restore, never stop: the SparkContext is shared by every suite
    try saved.foreach { case (active, default) =>
      default.fold(SparkSession.clearDefaultSession())(
        SparkSession.setDefaultSession)
      active.fold(SparkSession.clearActiveSession())(
        SparkSession.setActiveSession)
      assert(SparkSession.active eq TestSpark.spark,
        "the suite must leave the shared session active")
    } finally super.afterAll()
  }

  test("all injected functions resolve and compute from plain SQL") {
    val q = spark.sql(
      """SELECT
        |  histogram_quantile(array(1L, 1L, 1L, 1L), 4L, 0.5D) AS hq,
        |  minhash_signature('a b c d', 2, 4) AS sig,
        |  kgram_hashes('abcd', 2) AS kg,
        |  portable_hash64('abc') AS ph,
        |  stopword_hits('the cat and the hat') AS sw,
        |  winnow_fingerprints('abcdefgh', 3, 2) AS wf,
        |  normalize_text('cafe\u0301', 'NFC') AS nt""".stripMargin).head()
    assert(q.getLong(0) == 1L)                 // hand-checked quantile
    assert(q.getSeq[Long](1).length == 4)      // 4 hash lanes
    assert(q.getSeq[Long](2).length == 3)      // 4 chars, k=2 -> 3 grams
    assert(!q.isNullAt(3))
    // per-language hit vector; the English lane counts 'the' x2 + 'and'
    assert(q.getSeq[Long](4).max >= 3L)
    assert(q.getSeq[Long](5).nonEmpty)
    assert(q.getString(6) == "caf\u00e9") // composed

    // aggregate function route (analyzer wraps the AggregateFunction)
    val agg = spark.sql(
      """SELECT band_sum(w, 3) AS s FROM VALUES
        |  (array(1L, 2L, 3L)), (array(10L, 20L, 30L)) AS t(w)""".stripMargin)
      .head().getSeq[Long](0)
    assert(agg == Seq(11L, 22L, 33L))
  }

  test("data-carrying kernels resolve from plain SQL (payload = one " +
      "literal arg, consumed at resolution)") {
    val table = graft.plans.CentroidExprs.encode(
      Map(0 -> Array(0L, 0L), 3 -> Array(2000L, 0L)), scale = 1000L)
    val tableSql = table.mkString("array(", "L,", "L)")
    val sub = graft.plans.CentroidExprs.encodeSub(
      Map((0, 0) -> Array(0L), (0, 1) -> Array(5L)))
    val subSql = sub.mkString("array(", "L,", "L)")
    val q = spark.sql(
      s"""SELECT
         |  random_project(array(1.0D, 2.0D), 0, 2, 3) AS rp,
         |  bpe_segment('abab', 'ab') AS bpe,
         |  graft_assign_cell(array(2L, 0L), $tableSql) AS cell,
         |  graft_probe_cells(array(2L, 0L), $tableSql, 2) AS probes,
         |  graft_assign_residual(array(2L, 0L), $tableSql) AS cr,
         |  graft_subspace_assign(0, array(4L), $subSql) AS sa""".stripMargin)
      .head()
    assert(q.getSeq[Double](0).length == 3)
    assert(q.getSeq[String](1) == Seq("ab", "ab")) // merge (a,b) applied
    assert(q.getInt(2) == 3)                       // (2000,0) is cell 3
    assert(q.getSeq[Int](3) == Seq(3, 0))          // (d, cell) ascending
    assert(q.getStruct(4).getInt(0) == 3 &&
      q.getStruct(4).getSeq[Long](1) == Seq(0L, 0L))
    assert(q.getInt(5) == 1)                       // 4 nearer 5 than 0
  }

  test("vector kernels resolve from plain SQL and agree with register()") {
    val sql =
      """SELECT
        |  vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
        |  vec_dot(array(CAST(1.5 AS FLOAT)), array(2.0D)) AS mixed,
        |  vec_dot(array(1.0D), array(1.0D, 2.0D)) AS mismatched,
        |  unit_vec(array(3.0D, 4.0D)) AS u,
        |  unit_vec(array(0.0D, 0.0D)) AS zero""".stripMargin
    val q = spark.sql(sql).head()
    assert(q.getDouble(0) == 11.0)
    assert(q.getDouble(1) == 3.0)
    assert(q.isNullAt(2))
    assert(q.getSeq[Double](3) == Seq(0.6, 0.8))
    assert(q.isNullAt(4))
    val s2 = TestSpark.spark
    graft.plans.VectorExprs.register(s2)
    assert(s2.sql(sql).head() == q)
  }

  test("integral-literal scale args: BIGINT literals accepted, rest rejected usably") {
    // a Scala/SQL Long literal must work (was a raw ClassCastException)
    val sig = spark.sql("SELECT minhash_signature('a b c d', 2L, 4L) AS s")
      .head().getSeq[Long](0)
    assert(sig.length == 4)
    // non-literal argument: a usable signature error, not a CCE
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT kgram_hashes(t, length(t)) FROM VALUES ('ab') AS v(t)")
        .collect()
    }
    assert(e.getMessage.contains("kgram_hashes(text, k)"))
  }

  test("extensions route equals the per-session register() route") {
    val viaExt = spark.sql(
      "SELECT minhash_signature('x y z w v', 3, 8) AS sig").head().getSeq[Long](0)
    val s2 = TestSpark.spark // separate session, register() route
    graft.plans.MinHashSigExpr.register(s2)
    val viaReg = s2.sql(
      "SELECT minhash_signature('x y z w v', 3, 8) AS sig").head().getSeq[Long](0)
    assert(viaExt == viaReg)
  }
}
