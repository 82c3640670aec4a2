package graft

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.plans._

/** Library integration point — `SparkSessionExtensions` injector for
  * every native graft expression, so a cluster enables the whole
  * function family once at session build time:
  *
  * {{{
  *   spark-submit --conf spark.sql.extensions=graft.GraftExtensions ...
  *   // or
  *   SparkSession.builder().withExtensions(new GraftExtensions()(_))
  * }}}
  *
  * and then plain SQL sees them (`SELECT histogram_quantile(weeks,
  * total, 0.5) ...`) in EVERY session of that context — unlike the
  * per-session `register(spark)` helpers on each expression's
  * companion (which remain for tests/notebooks; both routes build the
  * identical expression tree, so plans and codegen are the same).
  *
  * Everything injected here is a full Catalyst expression with
  * `doGenCode` — inside whole-stage codegen, never a UDF boundary.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String): ExpressionInfo =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage,
      "", "", "", "", "", "", "scala_udf")

  /** Scale arguments must be INTEGRAL LITERALS (they size compiled
    * per-row kernels at plan time). A blind `eval().asInstanceOf[Int]`
    * threw a raw ClassCastException from deep in analysis for
    * `minhash_signature(t, 2L, 4)` or a non-foldable argument — match
    * the literal and fail with the function's signature instead. */
  private def intLit(usage: String, arg: String, e: Expression): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) if v.isValidInt => v.toInt
    case Literal(v: Short, _) => v.toInt
    case Literal(v: Byte, _) => v.toInt
    case other =>
      throw new AnalysisException("USER_RAISED_EXCEPTION",
        Map("errorMessage" ->
          (s"argument '$arg' must be an integer literal, got " +
            s"${other.sql}; usage: $usage")))
  }

  /** String-literal argument (e.g. a normalization-form name) — same
    * fail-with-signature contract as [[intLit]]. */
  private def strLit(usage: String, arg: String, e: Expression): String =
    e match {
      case Literal(v, org.apache.spark.sql.types.StringType) if v != null =>
        v.toString
      case other =>
        throw new AnalysisException("USER_RAISED_EXCEPTION",
          Map("errorMessage" ->
            (s"argument '$arg' must be a string literal, got " +
              s"${other.sql}; usage: $usage")))
    }

  override def apply(ext: SparkSessionExtensions): Unit = {
    def inject(name: String, usage: String,
        builder: Seq[Expression] => Expression): Unit =
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))

    inject("histogram_quantile",
      "histogram_quantile(weeks, total, q) - banded-histogram quantile (A12)",
      es => HistogramQuantileExpr(es(0), es(1), es(2)))
    inject("band_sum",
      "band_sum(weeks, maxBands) - null-skipping elementwise band-vector sum (A2)",
      es => BandSumAgg(es(0), es(1)))
    inject("heavy_hitters",
      "heavy_hitters(item, k) - Misra-Gries top-frequency sketch (mergeable)",
      es => HeavyHittersAgg(es(0), es(1)))
    val mhUsage = "minhash_signature(text, n, numHashes) - per-row MinHash signature"
    inject("minhash_signature", mhUsage,
      es => MinHashSigExpr(es(0),
        intLit(mhUsage, "n", es(1)), intLit(mhUsage, "numHashes", es(2))))
    val wsUsage = "word_shingles(text, n, distinct) - word n-gram shingles in one kernel pass"
    inject("word_shingles", wsUsage,
      es => WordShinglesExpr(es(0),
        intLit(wsUsage, "n", es(1)), intLit(wsUsage, "distinct", es(2)) != 0))
    val tgUsage = "top_gram_count(text, n) - count of the most repeated word n-gram in the row"
    inject("top_gram_count", tgUsage,
      es => TopGramCountExpr(es(0), intLit(tgUsage, "n", es(1))))
    val kgUsage = "kgram_hashes(text, k) - rolling k-gram hash per character position"
    inject("kgram_hashes", kgUsage,
      es => KgramHashesExpr(es(0), intLit(kgUsage, "k", es(1))))
    inject("portable_hash64",
      "portable_hash64(s) - engine-portable 64-bit string hash",
      es => PortableHash64Expr(es(0)))
    inject("vec_dot",
      "vec_dot(a, b) - double dot product of two array<float|double> " +
        "vectors, folded in array order",
      es => VecDotExpr(es(0), es(1)))
    inject("unit_vec",
      "unit_vec(v) - v / sqrt(vec_dot(v, v)) as array<double>; NULL " +
        "for a zero, empty or null-bearing vector",
      es => UnitVecExpr(es(0)))
    inject("stopword_hits",
      "stopword_hits(text) - stopword occurrence count in one pass",
      es => StopwordHitsExpr(es(0)))
    val wfUsage = "winnow_fingerprints(text, k, w) - MOSS winnowing fingerprint set"
    inject("winnow_fingerprints", wfUsage,
      es => WinnowFingerprintsExpr(es(0),
        intLit(wfUsage, "k", es(1)), intLit(wfUsage, "w", es(2))))
    val ctUsage = "chunk_text(text, maxChars) - greedy whitespace-aligned context-window chunks"
    inject("chunk_text", ctUsage,
      es => ChunkTextExpr(es(0), intLit(ctUsage, "maxChars", es(1))))
    val ntUsage = "normalize_text(text, form) - Unicode normalization " +
      "(form: 'NFC' | 'NFD' | 'NFKC' | 'NFKD' string literal)"
    inject("normalize_text", ntUsage,
      es => NormalizeTextExpr(es(0), strLit(ntUsage, "form", es(1))))
    // ---- data-carrying kernels: the payload arrives as ONE literal
    // argument consumed here at resolution time and rides the
    // expression object thereafter (never the resolved plan) — the
    // builders are pure, so cluster-wide injection is as safe as the
    // per-session register() helpers
    val rpUsage = "random_project(vec, seed, dIn, dOut) - JL +-1-sign " +
      "projection; the sign matrix derives from the seed alone"
    inject("random_project", rpUsage,
      es => RandomProjectExpr(es(0), intLit(rpUsage, "seed", es(1)).toLong,
        intLit(rpUsage, "dIn", es(2)), intLit(rpUsage, "dOut", es(3))))
    val bpeUsage = "bpe_segment(text, mergesEnc) - trained-BPE word " +
      "segmentation; mergesEnc = U+001F-joined merge list " +
      "(graft.functions.Bpe encodes it)"
    inject("bpe_segment", bpeUsage,
      es => BpeSegmentExpr(es(0), strLit(bpeUsage, "mergesEnc", es(1))))
    // any FOLDABLE array<bigint> (a typedlit Literal from the Scala
    // entry points, a CreateArray of literals from SQL) — evaluated
    // once here at resolution time
    def flatLit(usage: String, arg: String,
        e: Expression): graft.plans.CentroidExprs.FlatTable =
      e.dataType match {
        case org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.LongType, _) if e.foldable =>
          new graft.plans.CentroidExprs.FlatTable(
            e.eval().asInstanceOf[
              org.apache.spark.sql.catalyst.util.ArrayData].toLongArray())
        case _ =>
          throw new AnalysisException("USER_RAISED_EXCEPTION",
            Map("errorMessage" ->
              (s"argument '$arg' must be a foldable array<bigint> " +
                s"(CentroidExprs.encode/encodeSub), got ${e.sql}; " +
                s"usage: $usage")))
      }
    val acUsage = "graft_assign_cell(codes, table) - argmin centroid " +
      "cell (exact int64 milli-grid distance, ties to the lower cell); " +
      "table = CentroidExprs.encode(...)"
    inject("graft_assign_cell", acUsage,
      es => AssignCellExpr(es(0), flatLit(acUsage, "table", es(1))))
    val pcUsage = "graft_probe_cells(codes, table, nProbe) - the nProbe " +
      "nearest cells, (distance, cell) ascending"
    inject("graft_probe_cells", pcUsage,
      es => ProbeCellsExpr(es(0), flatLit(pcUsage, "table", es(1)),
        intLit(pcUsage, "nProbe", es(2))))
    val arUsage = "graft_assign_residual(codes, table) - struct(cell, " +
      "res): argmin cell plus the milli-grid residual in one pass"
    inject("graft_assign_residual", arUsage,
      es => AssignResidualExpr(es(0), flatLit(arUsage, "table", es(1))))
    val saUsage = "graft_subspace_assign(j, sub, table) - per-subspace " +
      "argmin cell; table = CentroidExprs.encodeSub(...)"
    inject("graft_subspace_assign", saUsage,
      es => SubspaceAssignExpr(es(0), es(1),
        flatLit(saUsage, "table", es(2))))
  }
}
