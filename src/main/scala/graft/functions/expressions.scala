package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpectsInputTypes, TernaryExpression}
import org.apache.spark.sql.graft.Shims
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `csv_column_at(line, idx[, delim])` — raw-byte field extraction from a
  * CSV-family line under the reference dialect (quote-aware, slice
  * verbatim). Null when the field does not exist. The delimiter is
  * CONFIGURATION, not data (the reference test matrix's Format=csv/psv
  * dimension, code/IntegrationTests/TestCaseConfiguration.cs:17-29), so it
  * rides as a plain constructor byte — codegen substitutes the literal and
  * the expression stays a 2-child BinaryExpression inside
  * WholeStageCodegen.
  *
  * Reference: code/KustoPreForgeLib/Transforms/CsvParseTransform.cs:60-115.
  */
case class CsvColumnAt(left: Expression, right: Expression,
                       delim: Byte = ','.toByte)
    extends BinaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[Shims.AbstractDataType] = Seq(StringType, IntegerType)
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "csv_column_at"

  override protected def nullSafeEval(line: Any, idx: Any): Any =
    CsvUtil.columnAt(line.asInstanceOf[UTF8String], idx.asInstanceOf[Int], delim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (line, idx) => {
      s"""
         |${ev.value} = graft.functions.CsvUtil.columnAt($line, $idx, (byte) $delim);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `csv_field_count(line[, delim])` — number of fields under the same
  * dialect. */
case class CsvFieldCount(child: Expression, delim: Byte = ','.toByte)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[Shims.AbstractDataType] = Seq(StringType)
  override def dataType: DataType = IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "csv_field_count"

  override protected def nullSafeEval(line: Any): Any =
    CsvUtil.fieldCount(line.asInstanceOf[UTF8String], delim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      line => s"graft.functions.CsvUtil.fieldCount($line, (byte) $delim)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** `xor_fold_hash(value, seed, n)` — the reference's partition hash,
  * bit-exact (PartitioningHelper.cs:15-25): XOR-fold of UTF-8 bytes seeded
  * with `seed`, modulo `n`. Null input hashes to `seed % n` (the reference
  * never sees nulls — a missing field simply gets no partition id — but a
  * total function composes better; callers filter nulls upstream when
  * replicating "no id" semantics).
  */
case class XorFoldHash(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression with ExpectsInputTypes {

  override def inputTypes: Seq[Shims.AbstractDataType] =
    Seq(StringType, IntegerType, IntegerType)
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = false
  override def prettyName: String = "xor_fold_hash"

  /** seed and partition count are configuration, not data: require
    * non-null literals at analysis time — the codegen below substitutes
    * raw values and would otherwise silently hash with 0 for a null seed
    * (wrong partitions, no error) or divide by zero for a null/0 count.
    */
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    import org.apache.spark.sql.catalyst.analysis.TypeCheckResult._
    val base = super.checkInputDataTypes()
    if (base.isFailure) base
    else if (!second.foldable || !third.foldable)
      TypeCheckFailure("xor_fold_hash: seed and maxPartitionCount must be literals")
    else if (second.eval() == null || third.eval() == null)
      TypeCheckFailure("xor_fold_hash: seed and maxPartitionCount must be non-null")
    else if (third.eval().asInstanceOf[Int] == 0)
      TypeCheckFailure("xor_fold_hash: maxPartitionCount must be non-zero")
    else TypeCheckSuccess
  }

  // total: null value still produces seed % n
  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = first.eval(input)
    val s = second.eval(input).asInstanceOf[Int]
    val n = third.eval(input).asInstanceOf[Int]
    HashUtil.xorFoldMod(v.asInstanceOf[UTF8String], s, n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    import org.apache.spark.sql.catalyst.expressions.codegen.FalseLiteral
    val v = first.genCode(ctx)
    val s = second.genCode(ctx)
    val n = third.genCode(ctx)
    val valueArg =
      if (first.nullable) s"(${v.isNull} ? null : ${v.value})" else s"${v.value}"
    ev.copy(
      code = code"""
        ${v.code}
        ${s.code}
        ${n.code}
        int ${ev.value} = graft.functions.HashUtil.xorFoldMod($valueArg, ${s.value}, ${n.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): Expression =
    copy(first = f, second = s, third = t)
}

/** `rolling_hash(value)` — Karp–Rabin polynomial fingerprint of the raw
  * UTF-8 bytes (h = h*31 + b mod 1e9+7). Codegen'd via the static helper,
  * stays inside WholeStageCodegen.
  */
case class RollingHash(child: Expression)
    extends org.apache.spark.sql.catalyst.expressions.UnaryExpression
    with ExpectsInputTypes {
  override def inputTypes: Seq[Shims.AbstractDataType] = Seq(StringType)
  override def dataType: DataType = org.apache.spark.sql.types.LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "rolling_hash"

  override protected def nullSafeEval(value: Any): Any =
    HashUtil.rollingHash(value.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, v => s"graft.functions.HashUtil.rollingHash($v)")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Column-level API + SQL registration for the graft custom expressions. */
object GraftFunctions {
  import org.apache.spark.sql.functions.lit

  def csvColumnAt(line: Column, idx: Int, delim: Char = ','): Column =
    Shims.column(CsvColumnAt(
      Shims.expression(line), Shims.expression(lit(idx)), delim.toByte))

  def csvFieldCount(line: Column, delim: Char = ','): Column =
    Shims.column(CsvFieldCount(Shims.expression(line), delim.toByte))

  /** SQL-surface delimiter arg → constructor byte: configuration must be a
    * non-null single-byte literal (a per-row delimiter has no meaning in
    * the reference's Format dimension, and codegen substitutes the raw
    * byte). */
  private[graft] def delimOf(e: Expression, fn: String): Byte = {
    require(e.foldable, s"$fn: delimiter must be a literal")
    val s = e.eval().asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
    require(s != null && s.numBytes == 1,
      s"$fn: delimiter must be a single one-byte character")
    s.getByte(0)
  }

  def xorFoldHash(value: Column, seed: Int, maxPartitionCount: Int): Column =
    Shims.column(XorFoldHash(
      Shims.expression(value),
      Shims.expression(lit(seed)),
      Shims.expression(lit(maxPartitionCount))))

  def rollingHash(value: Column): Column =
    Shims.column(RollingHash(Shims.expression(value)))

  /** Register every graft kernel for SQL use: the CSV/hash parity
    * expressions plus the sketch and vector kernels — `spark.sql` users
    * get the same codegen'd operators the DataFrame API wraps. The
    * planner hooks ride along (`GraftExtensions.install`). Idempotent.
    */
  def register(spark: SparkSession): Unit = graft.GraftExtensions.install(spark)
}
