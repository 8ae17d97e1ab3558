package graft.functions

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registers the engine's native expressions with a session so they are
  * callable from SQL (`SELECT graft_dot(a, b)`) as well as the DataFrame
  * API; graft tables' planner hooks: the check their `UNSET
  * TBLPROPERTIES` needs ([[graft.sources.UnsetPropertiesCheck]]) and
  * their SQL DELETE/UPDATE/MERGE ([[graft.sources.GraftDml]]); and the
  * parser of their maintenance statements
  * ([[graft.sources.GraftSqlParser]]). Extensions apply when a session
  * is built: `GraftSession.build` passes this one to the builder, and
  * `spark.sql.extensions=graft.functions.GraftExtensions` does the same
  * for any session. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    GraftExtensions.strategies.foreach(s => ext.injectPlannerStrategy(_ => s))
    ext.injectParser((_, delegate) => new graft.sources.GraftSqlParser(delegate))
  }
}

object GraftExtensions {

  private val strategies = Seq(graft.sources.UnsetPropertiesCheck, graft.sources.GraftDml)

  private val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] =
    Seq(
      (
        FunctionIdentifier("graft_dot"),
        new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
        (children: Seq[Expression]) => {
          require(children.size == 2, s"graft_dot takes 2 arguments, got ${children.size}")
          DotProduct(children.head, children.last)
        }),
      (
        FunctionIdentifier("graft_lsh_keys"),
        new ExpressionInfo(classOf[LshBucketKeys].getName, "graft_lsh_keys"),
        (children: Seq[Expression]) => {
          require(children.size == 4,
            s"graft_lsh_keys takes (vector, planesFlat, tables, planes), got ${children.size}")
          LshBucketKeys(children(0), children(1), children(2), children(3))
        }),
      (
        FunctionIdentifier("graft_cell_scores"),
        new ExpressionInfo(classOf[CellScores].getName, "graft_cell_scores"),
        (children: Seq[Expression]) => {
          require(children.size == 3,
            s"graft_cell_scores takes (vector, centroidsFlat, biases), got ${children.size}")
          CellScores(children(0), children(1), children(2))
        }),
      (
        FunctionIdentifier("graft_pq_adc"),
        new ExpressionInfo(classOf[PqAdc].getName, "graft_pq_adc"),
        (children: Seq[Expression]) => {
          require(children.size == 2,
            s"graft_pq_adc takes (codes, lut), got ${children.size}")
          PqAdc(children.head, children.last)
        }),
      (
        FunctionIdentifier("graft_zspread"),
        new ExpressionInfo(classOf[ZOrderSpread].getName, "graft_zspread"),
        (children: Seq[Expression]) => {
          require(children.size == 3,
            s"graft_zspread takes (value, boundaries, spreads), got ${children.size}")
          ZOrderSpread(children(0), children(1), children(2))
        }),
      (
        FunctionIdentifier("graft_minhash"),
        new ExpressionInfo(classOf[MinHash].getName, "graft_minhash"),
        (children: Seq[Expression]) => {
          require(children.size == 3,
            s"graft_minhash takes (tokens, w, k), got ${children.size}")
          MinHash(children(0), children(1), children(2))
        }),
      (
        FunctionIdentifier("graft_minhash_bands"),
        new ExpressionInfo(classOf[MinHashBands].getName, "graft_minhash_bands"),
        (children: Seq[Expression]) => {
          require(children.size == 2,
            s"graft_minhash_bands takes (signature, rowsPerBand), got ${children.size}")
          MinHashBands(children.head, children.last)
        }),
      (
        FunctionIdentifier("graft_shingle_jaccard"),
        new ExpressionInfo(classOf[ShingleJaccard].getName, "graft_shingle_jaccard"),
        (children: Seq[Expression]) => {
          require(children.size == 3,
            s"graft_shingle_jaccard takes (tokensA, tokensB, w), got ${children.size}")
          ShingleJaccard(children(0), children(1), children(2))
        }))

  /** Idempotent late registration of the functions and planner hooks
    * on a session built without the extension (`GraftSession.tune`).
    * Only the extension at construction adds the parser, so on such a
    * session maintenance SQL runs through
    * [[graft.sources.GraftSqlParser.sql]]. */
  def register(spark: SparkSession): SparkSession = {
    if (spark.sessionState.sqlParser.isInstanceOf[graft.sources.GraftSqlParser]) return spark
    functions.foreach { case (id, info, builder) =>
      if (!spark.catalog.functionExists(id.funcName)) {
        spark.sessionState.functionRegistry.registerFunction(id, info, builder)
      }
    }
    strategies.foreach { s =>
      if (!spark.experimental.extraStrategies.contains(s)) spark.experimental.extraStrategies :+= s
    }
    spark
  }

  /** DataFrame-API handle for the native dot product. Resolved from the
    * function registry at analysis time (Spark 4 keeps the Column ↔
    * catalyst-Expression bridge private), so the session must have been
    * through [[register]] / GraftSession — which every engine entry point
    * guarantees. */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_dot", a, b)

  /** DataFrame-API handle for the packed LSH bucket keys (same registry
    * contract as [[dot]]). */
  def lshKeys(vector: Column, planesFlat: Column, tables: Column, planes: Column): Column =
    org.apache.spark.sql.functions.call_function(
      "graft_lsh_keys", vector, planesFlat, tables, planes)

  /** DataFrame-API handle for the packed centroid scores. */
  def cellScores(vector: Column, centroidsFlat: Column, biases: Column): Column =
    org.apache.spark.sql.functions.call_function(
      "graft_cell_scores", vector, centroidsFlat, biases)

  /** DataFrame-API handle for the PQ asymmetric-distance score. */
  def pqAdc(codes: Column, lut: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_pq_adc", codes, lut)

  /** DataFrame-API handle for the z-order bucket spread lookup. */
  def zSpread(value: Column, boundaries: Column, spreads: Column): Column =
    org.apache.spark.sql.functions.call_function(
      "graft_zspread", value, boundaries, spreads)

  /** DataFrame-API handle for the MinHash signature of a token array. */
  def minhash(tokens: Column, w: Column, k: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_minhash", tokens, w, k)

  /** DataFrame-API handle for the LSH band keys of a MinHash signature. */
  def minhashBands(sig: Column, rowsPerBand: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_minhash_bands", sig, rowsPerBand)

  /** DataFrame-API handle for the exact shingle Jaccard of two token arrays. */
  def shingleJaccard(tokensA: Column, tokensB: Column, w: Column): Column =
    org.apache.spark.sql.functions.call_function("graft_shingle_jaccard", tokensA, tokensB, w)
}
