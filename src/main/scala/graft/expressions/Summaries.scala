package graft.expressions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The walks over a record's report arrays, and `array_compact`, as
  * native kernels: the ETS status counts, the KPI summary's sums and
  * clobbered comments, the failed-test violation rows and the one-KPI
  * selection. Each replaces a `filter`/`transform`/`aggregate` (Spark
  * rewrites `array_compact` to `filter` too); the declarative forms are
  * the tests' `SummariesReference` (parity: OptimizationParitySpec,
  * KernelSpec).
  *
  * `ets_tests` elements are `struct<id, code, message>` and `kpi_tests`
  * elements [[kpiTestType]]; neither holds a null element. */
object Summaries {

  /** one `kpi_tests` element, `graft.catalog.KpiRule.result` */
  val kpiTestType: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("title", StringType),
    StructField("total", IntegerType),
    StructField("score", IntegerType),
    StructField("comments", ArrayType(StringType, containsNull = false)),
    StructField("percentage", DoubleType)))

  private val etsTestType: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("code", StringType, nullable = false),
    StructField("message", StringType)))

  private val Passed = UTF8String.fromString("PASSED")
  private val Failed = UTF8String.fromString("FAILED")
  private val Skipped = UTF8String.fromString("SKIPPED")

  /** `array_compact`: the non-null elements of a string array, in order */
  def compact(a: ArrayData): ArrayData = {
    val out = new ArrayBuffer[Any](a.numElements())
    var i = 0
    while (i < a.numElements()) {
      if (!a.isNullAt(i)) out += a.getUTF8String(i)
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  /** `(PASSED, FAILED, SKIPPED)` counts of the `code`s of `ets_tests` */
  def etsCounts(tests: ArrayData): InternalRow = {
    var passed, failed, skipped = 0
    var i = 0
    while (i < tests.numElements()) {
      val code = tests.getStruct(i, 3).getUTF8String(1)
      if (code == Passed) passed += 1
      else if (code == Failed) failed += 1
      else if (code == Skipped) skipped += 1
      i += 1
    }
    new GenericInternalRow(Array[Any](passed, failed, skipped))
  }

  /** `(rule_id, diagnostic)` of each FAILED test of `ets_tests`: its id
    * and message */
  def failedTests(tests: ArrayData): ArrayData = {
    val out = new ArrayBuffer[Any](2)
    var i = 0
    while (i < tests.numElements()) {
      val t = tests.getStruct(i, 3)
      if (t.getUTF8String(1) == Failed)
        out += new GenericInternalRow(Array[Any](t.getUTF8String(0).copy(),
          if (t.isNullAt(2)) null else t.getUTF8String(2).copy()))
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  private val kpiTotal = kpiTestType.fieldIndex("total")
  private val kpiScore = kpiTestType.fieldIndex("score")
  private val kpiComments = kpiTestType.fieldIndex("comments")

  /** `(total, score, comments)` of a `kpi_tests` array: the sums of the
    * tests' totals and scores (null when any is null) and the whole LAST
    * test with a non-empty comment list, the reference's summary
    * comments-clobber (`kpi.py:573-576`), null when there is none. */
  def kpiSummary(tests: ArrayData): InternalRow = {
    var total, score = 0
    var totalNull, scoreNull = false
    var commented: InternalRow = null
    var i = 0
    while (i < tests.numElements()) {
      val t = tests.getStruct(i, kpiTestType.size)
      if (t.isNullAt(kpiTotal)) totalNull = true else total += t.getInt(kpiTotal)
      if (t.isNullAt(kpiScore)) scoreNull = true else score += t.getInt(kpiScore)
      if (!t.isNullAt(kpiComments) && t.getArray(kpiComments).numElements() > 0)
        commented = t
      i += 1
    }
    new GenericInternalRow(Array[Any](if (totalNull) null else total,
      if (scoreNull) null else score,
      if (commented == null) null else commented.copy()))
  }

  /** the tests of `kpi_tests` whose id is `id`, in order */
  def selectById(tests: ArrayData, id: UTF8String): ArrayData = {
    val out = new ArrayBuffer[Any](1)
    var i = 0
    while (i < tests.numElements()) {
      val t = tests.getStruct(i, kpiTestType.size)
      if (t.getUTF8String(0) == id) out += t.copy()
      i += 1
    }
    new GenericArrayData(out.toArray)
  }

  private val stringArray = ArrayType(StringType, containsNull = false)

  /** [[compact]]; null for a null array */
  def compactColumn(a: Column): Column =
    Kernel.call(this, "compact", stringArray, Seq(a -> ArrayType(StringType)),
      nullable = false)

  /** [[etsCounts]]; null for null tests */
  def etsCountsColumn(tests: Column): Column =
    Kernel.call(this, "etsCounts", StructType(
      Seq("PASSED", "FAILED", "SKIPPED").map(StructField(_, IntegerType))),
      Seq(tests -> ArrayType(etsTestType)), nullable = false)

  /** [[failedTests]]; null for null tests */
  def failedTestsColumn(tests: Column): Column =
    Kernel.call(this, "failedTests", ArrayType(StructType(Seq(
      StructField("rule_id", StringType, nullable = false),
      StructField("diagnostic", StringType))), containsNull = false),
      Seq(tests -> ArrayType(etsTestType)), nullable = false)

  /** [[kpiSummary]]; null for null tests */
  def kpiSummaryColumn(tests: Column): Column =
    Kernel.call(this, "kpiSummary", StructType(Seq(
      StructField("total", IntegerType), StructField("score", IntegerType),
      StructField("comments", kpiTestType))),
      Seq(tests -> ArrayType(kpiTestType)), nullable = false)

  /** [[selectById]]; null for null tests */
  def selectByIdColumn(tests: Column, id: String): Column =
    Kernel.call(this, "selectById", ArrayType(kpiTestType, containsNull = false),
      Seq(tests -> ArrayType(kpiTestType), lit(id) -> StringType),
      nullable = false)
}
