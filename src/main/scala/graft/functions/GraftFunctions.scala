package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registration for graft's native Catalyst expressions.
  *
  * Two paths, same registry:
  *  - `GraftFunctions.register(spark)` for an existing session (what the
  *    query pack uses — the driver constructs the session);
  *  - `GraftExtensions` via `spark.sql.extensions=graft.functions.GraftExtensions`
  *    for injection at session build time.
  */
object GraftFunctions {

  private type Builder = Seq[Expression] => Expression

  /** The one function table: name, registry info and builder of each. */
  private[functions] val functions: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] =
    Seq[(String, Class[_], Builder)](
      ("cosine_sim", classOf[CosineSimilarity], exprs => CosineSimilarity(exprs(0), exprs(1))),
      ("sq_dist", classOf[SqDist], exprs => SqDist(exprs(0), exprs(1))),
      ("rolling_hash", classOf[RollingHash], exprs => RollingHash(exprs.head)),
      // aggregate: the analyzer wraps an AggregateFunction builder result in
      // an AggregateExpression at resolution, same as the built-in registry
      ("capped_distinct", classOf[CappedDistinctAgg],
        exprs => CappedDistinctAgg(exprs(0), exprs(1)))
    ).map { case (name, cls, builder) =>
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), builder)
    }

  /** Registers each function the session's registry does not hold yet, so a
    * session built with [[GraftExtensions]] keeps its injected functions and
    * a repeated call replaces nothing.
    */
  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // theta range joins → binned equi-joins (no nested loops at scale)
    ext.injectOptimizerRule(_ => graft.plans.RangeJoinRewrite)
    // plans graft.plans.AsOfJoin's logical node
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoin.AsOfStrategy)
    GraftFunctions.functions.foreach(ext.injectFunction)
  }
}
