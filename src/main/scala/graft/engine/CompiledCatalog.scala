package graft.engine

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, JoinedRow,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan,
  Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.{ExecutionSpan, shims}
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** The row-local catalog planned ONCE: [[Validator.validate]] plus the
  * columns a single-record caller reads (parse status, schema-gate code
  * and errors, the ETS report, the ungated KPI report), optimized over a
  * placeholder leaf and compiled node by node into one evaluator:
  *
  *   - `Project`  -> [[UnsafeProjection]]
  *   - `Generate` (not outer) -> the bound generator joined to its
  *     required child output (what `GenerateExec` does)
  *
  * The optimized catalog is exactly these: projections around the three
  * parse/kernel/walk generators over the placeholder leaf. Any other node
  * is a build-time error, never a per-request one.
  *
  * [[run]] calls the evaluator directly on an `InternalRow` of
  * `UTF8String`s: no per-request DataFrame, analysis, optimization or Row
  * encoding. The call is still one SQL execution, visible to every Spark
  * listener and the UI's SQL tab, named `compiled_catalog`: an
  * [[ExecutionSpan]] over one tiny request query (an empty local relation
  * of the output schema, planned to a `LocalTableScanExec` by
  * [[CompiledCatalog.build]] in the session it was given). The span's
  * listener payload (explain string, plan info, modified configs) is
  * computed with it, once; a request only draws an execution id and posts
  * the Start and End events. No Spark job runs.
  *
  * The placeholder is a `LogicalRDD`, not an empty `LocalRelation`:
  * `PropagateEmptyRelation` would fold an empty local leaf (and the whole
  * catalog with it) away. The run datetime is an input column, so each
  * request stamps its own clock into the reports.
  *
  * The compiled projections reuse their output buffers, so evaluation is
  * serialized behind one lock. The evaluator is not serializable: a plan
  * that shipped it to a task would fail loudly instead of copying it.
  */
final class CompiledCatalog private[graft] (plan: LogicalPlan,
                                           spark: SparkSession) {
  import CompiledCatalog._

  /** `struct<parse_ok, gate, gate_errors, ets, kpi>` */
  private[graft] val schema: StructType = StructType(plan.output.map(a =>
    StructField(a.name, a.dataType, a.nullable)))

  private val root: InternalRow => Iterator[InternalRow] = compile(plan)

  /** One record through the evaluator alone, outside any SQL execution
    * ([[run]] is this inside its span). */
  private[graft] def evaluate(content: String, runDatetime: String): Result = {
    val input = InternalRow.fromSeq(AdhocIdentity ++ Seq(
      UTF8String.fromString(content), UTF8String.fromString(runDatetime)))
    val r = synchronized(root(input).next().copy())
    def string(i: Int): String =
      if (r.isNullAt(i)) null else r.getUTF8String(i).toString
    Result(r.getBoolean(0), string(1), string(2), string(3), string(4))
  }

  /** The request query, planned once at build, as the span every [[run]]
    * is posted from. */
  private val span = new ExecutionSpan(
    spark.createDataFrame(java.util.List.of[Row](), schema).queryExecution,
    "compiled_catalog", "graft.engine.CompiledCatalog.run")

  /** One record through one SQL execution, under the same ad-hoc record
    * identity as [[Reports.validateOne]]. */
  def run(content: String, runDatetime: String): Result =
    span(evaluate(content, runDatetime))

  override def toString: String = s"CompiledCatalog(${schema.simpleString})"
}

object CompiledCatalog {

  /** One record's answers: parse status, schema-gate code (`PASSED` when
    * the gate did not run) and `", "`-joined errors, ETS and ungated KPI
    * report JSON. */
  final case class Result(parseOk: Boolean, gate: String, gateErrors: String,
                          ets: String, kpi: String)

  private val InputSchema: StructType = StructType(
    Seq("repo", "path", "commit", "lang", "content", "run_datetime")
      .map(StructField(_, StringType)))

  /** The input columns `(repo, path, commit, lang)` of
    * [[Reports.validateOne]]'s ad-hoc record identity. */
  private val AdhocIdentity: Seq[UTF8String] =
    Seq(Reports.AdhocRepo, Reports.AdhocPath, Reports.AdhocCommit,
      Reports.AdhocLang).map(UTF8String.fromString)

  /** Plan and compile the catalog, and plan the request query in `spark`
    * (seconds: this is the whole per-request planning cost of the
    * DataFrame path, paid once). */
  def build(spark: SparkSession): CompiledCatalog =
    new CompiledCatalog(optimizedPlan(spark), spark)

  /** The optimized catalog plan [[build]] compiles. */
  private[graft] def optimizedPlan(spark: SparkSession): LogicalPlan = {
    val leaf = shims.internalDf(spark,
      spark.sparkContext.emptyRDD[InternalRow], InputSchema)
    val dt = col("run_datetime")
    val selected = Validator.validate(leaf).select(
      col("parse_ok"),
      coalesce(col("validation.code"), lit("PASSED")).as("gate"),
      concat_ws(", ", col("validation.errors")).as("gate_errors"),
      Reports.etsReportJson(dt).as("ets"),
      Reports.kpiReportJson(dt).as("kpi"))
    selected.queryExecution.optimizedPlan
  }

  private def compile(plan: LogicalPlan): InternalRow => Iterator[InternalRow] =
    plan match {
      case leaf: LogicalRDD =>
        require(leaf.output.map(_.name) == InputSchema.fieldNames.toSeq,
          s"placeholder columns ${leaf.output} were pruned or reordered")
        Iterator.single

      case Project(list, child) =>
        val proj = UnsafeProjection.create(list, child.output)
        proj.initialize(0)
        val below = compile(child)
        row => below(row).map(proj)

      case g: Generate if !g.outer =>
        val gen = BindReferences.bindReference(g.generator, g.child.output)
        val keep = UnsafeProjection.create(g.requiredChildOutput,
          g.child.output)
        val joined = new JoinedRow
        val below = compile(g.child)
        row => below(row).flatMap { in =>
          val left = keep(in)
          gen.eval(in).iterator.map(joined(left, _))
        }

      case other =>
        throw new IllegalStateException(
          s"compiled catalog: no evaluator for plan node ${other.nodeName}")
    }
}
