package graft.engine

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression,
  GenericInternalRow, JoinedRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan,
  Project}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims
import org.apache.spark.sql.types.{DataType, StringType, StructField,
  StructType}

/** The row-local catalog planned ONCE: [[Validator.validate]] plus the
  * columns a single-record caller reads (parse status, schema-gate code
  * and errors, the ETS report, the ungated KPI report), optimized over a
  * placeholder leaf and compiled node by node into one evaluator:
  *
  *   - `Project`  -> [[UnsafeProjection]]
  *   - `Generate` (not outer) -> the bound generator joined to its
  *     required child output (what `GenerateExec` does)
  *
  * The optimized catalog is exactly these: projections around the two
  * parse/kernel generators over the placeholder leaf. Any other node is a
  * build-time error, never a per-request one.
  *
  * The evaluator is exposed as a single [[CodegenFallback]] expression.
  * Selected over a one-row local frame, the optimizer's
  * `ConvertToLocalRelation` folds it on the driver: the query is still one
  * SQL execution (visible to every Spark listener), but it plans one
  * projection over a local relation instead of analysing the ~3.7k-node
  * catalog plan, and it runs no job.
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
final class CompiledCatalog private[graft] (plan: LogicalPlan) {
  import CompiledCatalog._

  /** `struct<parse_ok, gate, gate_errors, ets, kpi>` */
  private[engine] val schema: StructType = StructType(plan.output.map(a =>
    StructField(a.name, a.dataType, a.nullable)))

  private val root: InternalRow => Iterator[InternalRow] = compile(plan)

  /** Evaluate one input row `(repo, path, commit, lang, content,
    * run_datetime)` to its output struct (a fresh copy). */
  private[engine] def evaluate(input: InternalRow): InternalRow =
    synchronized(root(input).next().copy())

  /** One record through one SQL execution: the evaluator as one
    * expression over a one-row local frame, under the same ad-hoc record
    * identity as [[Reports.validateOne]]. */
  def run(spark: SparkSession, content: String, runDatetime: String): Result = {
    val input = Row(Reports.AdhocRepo, Reports.AdhocPath, Reports.AdhocCommit,
      Reports.AdhocLang, content, runDatetime)
    val r = spark.createDataFrame(java.util.List.of(input), InputSchema)
      .select(shims.column(CatalogEval(this, InputSchema.fieldNames.toSeq
        .map(c => shims.expression(col(c))))).as("compiled_catalog"))
      .collect()(0).getStruct(0)
    Result(r.getBoolean(0), r.getString(1), r.getString(2), r.getString(3),
      r.getString(4))
  }

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

  /** Plan and compile the catalog (seconds: this is the whole per-request
    * planning cost of the DataFrame path, paid once). */
  def build(spark: SparkSession): CompiledCatalog = {
    val leaf = shims.internalDf(spark,
      spark.sparkContext.emptyRDD[InternalRow], InputSchema)
    val dt = col("run_datetime")
    val selected = Validator.validate(leaf).select(
      col("parse_ok"),
      coalesce(col("validation.code"), lit("PASSED")).as("gate"),
      concat_ws(", ", col("validation.errors")).as("gate_errors"),
      Reports.etsReportJson(dt).as("ets"),
      Reports.kpiReportJson(dt).as("kpi"))
    new CompiledCatalog(selected.queryExecution.optimizedPlan)
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

  /** The compiled catalog as a Catalyst expression (`children` are the six
    * input columns). Interpreted by design: the optimizer folds it over a
    * local relation, so no generated class ever references it. */
  private[engine] final case class CatalogEval(catalog: CompiledCatalog,
                                               children: Seq[Expression])
      extends Expression with CodegenFallback {
    override def nullable: Boolean = false
    override def dataType: DataType = catalog.schema
    override def prettyName: String = "compiled_catalog"
    override def eval(input: InternalRow): Any =
      catalog.evaluate(new GenericInternalRow(
        children.map(_.eval(input)).toArray))
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression =
      copy(children = newChildren)
  }
}
