package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** SparkSessionExtensions entry point (SURVEY.md §2.11 custom-op row /
  * build-brief preference (c)): installs the engine's native expressions
  * into every session built with
  *
  * {{{
  *   SparkSession.builder()
  *     .config("spark.sql.extensions", "graft.functions.GraftExtensions")
  *   // or: .withExtensions(new GraftExtensions)
  * }}}
  *
  * so they resolve in plain SQL text on a cluster where the user never
  * calls [[GraftExtensions.register]] (e.g. thrift-server / SQL-only
  * deployments): `graft_dot`, `graft_shingle_md5`, `graft_pq_encode`,
  * `graft_pq_lut` and `graft_pq_adc`. [[graft.GraftSession]] installs it.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(f => ext.injectFunction((f.id, f.info, f.build)))
}

object GraftExtensions {
  /** One native function: SQL name, describing class, arity-checked builder. */
  final case class Native(name: String, cls: Class[_ <: Expression], arity: Int)(
      make: Seq[Expression] => Expression) {
    val id = new FunctionIdentifier(name)
    val info = new ExpressionInfo(cls.getName, name)
    val build: Seq[Expression] => Expression = { exprs =>
      require(exprs.size == arity, s"$name takes $arity arguments, got ${exprs.size}")
      make(exprs)
    }
  }

  /** Every native function the engine installs. */
  val functions: Seq[Native] = Seq(
    Native("graft_dot", classOf[DotProduct], 2)(e => DotProduct(e(0), e(1))),
    Native("graft_shingle_md5", classOf[ShingleMd5], 2)(e => ShingleMd5(e(0), e(1))),
    Native("graft_pq_encode", classOf[PqEncode], 3)(e => PqEncode(e(0), e(1), e(2))),
    Native("graft_pq_lut", classOf[PqLut], 3)(e => PqLut(e(0), e(1), e(2))),
    Native("graft_pq_adc", classOf[PqAdc], 3)(e => PqAdc(e(0), e(1), e(2))))

  /** Register on `spark` the functions its registry lacks. Sessions built
    * with the extension already hold all of them, so this is a no-op there;
    * re-registering an existing name would log a "replaced a previously
    * registered function" warning on every call. */
  def register(spark: SparkSession): Unit = {
    val registry = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry
    functions.filterNot(f => registry.functionExists(f.id))
      .foreach(f => registry.registerFunction(f.id, f.info, f.build))
  }
}
