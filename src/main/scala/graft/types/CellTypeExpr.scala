package graft.types

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, InternalRow}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Alias, BindReferences, Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions.{call_function, col}
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}

/** One CellType memo as a native Catalyst expression: the cell's number
  * memo (`cell_number(raw)`) or, with the number memo as a second child,
  * its timestamp memo (`cell_timestamp(raw, num)`, null whenever `num` is
  * non-null — numbers win the trichotomy).
  *
  * `template` is [[CellType.asNumber]] or [[CellType.asTimestampRaw]] over
  * one string column, resolved and optimized once per session and bound to
  * ordinal 0 (see `CellTypeExpr.templates`). The composed tree is the
  * single definition of the parse; this node only changes how often it is
  * compiled. Inlined per column, a sheet with 24 typed columns emits the
  * full cascade (a guarded cast, three shape regexes, twelve timestamp
  * parses, two month-name extractions over a map literal) 24 times into one
  * generated class, past Janino's 64 KB method limit, and the stage drops
  * out of whole-stage codegen. Here `doGenCode` emits each
  * template once per generated class as a private function of a one-field
  * row, and every column calls it; `eval` runs the same bound tree.
  */
case class CellMemo(children: Seq[Expression], template: Expression,
    override val prettyName: String) extends Expression {

  private def raw: Expression = children.head
  private def numMemo: Option[Expression] = children.lift(1)

  override def checkInputDataTypes(): TypeCheckResult =
    if (raw.dataType.isInstanceOf[StringType]) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string cell, got ${raw.dataType}")
  override def dataType: DataType = template.dataType
  override def nullable: Boolean = true
  // the template is configuration, not a child: keep it out of plan strings
  override def stringArgs: Iterator[Any] = children.iterator
  override def toString: String = s"$prettyName(${children.mkString(", ")})"
  override def sql: String = s"$prettyName(${children.map(_.sql).mkString(", ")})"

  override def eval(input: InternalRow): Any =
    if (numMemo.exists(_.eval(input) != null)) null
    else {
      val cell = raw.eval(input)
      if (cell == null) null
      else template.eval(new GenericInternalRow(Array[Any](cell)))
    }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = CellTypeExpr.function(ctx, prettyName, template)
    val cell = raw.genCode(ctx)
    val parse =
      code"""
         |${cell.code}
         |if (!${cell.isNull}) {
         |  ${fn.row}.update(0, ${cell.value});
         |  ${ev.value} = ${fn.name}(${fn.row});
         |  ${ev.isNull} = ${fn.isNull};
         |}
       """.stripMargin
    val body = numMemo match {
      case None => parse
      case Some(num) =>
        val n = num.genCode(ctx)
        code"""
           |${n.code}
           |if (${n.isNull}) {
           |  $parse
           |}
         """.stripMargin
    }
    ev.copy(code =
      code"""
         |boolean ${ev.isNull} = true;
         |${CodeGenerator.javaType(dataType)} ${ev.value} =
         |  ${CodeGenerator.defaultValue(dataType)};
         |$body
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CellMemo = copy(children = newChildren)
}

object CellTypeExpr {

  /** The two parse trees, bound to ordinal 0 of a one-string-column row. */
  private final case class Templates(number: Expression, timestamp: Expression)

  // Session conf baked into a resolved tree: the time zone (timestamp
  // parses), the parser policy (formatter construction) and ANSI mode
  // (the cast eval modes). A session whose conf changes gets a new entry.
  private val bakedConfs = Seq("spark.sql.session.timeZone",
    "spark.sql.legacy.timeParserPolicy", "spark.sql.ansi.enabled",
    "spark.sql.timestampType")

  private val cache =
    new java.util.WeakHashMap[SparkSession, Map[Seq[String], Templates]]()

  /** The session's templates, analyzed and optimized on first use under
    * its current conf. Never shared across sessions: each resolved tree
    * carries its session's time zone and parser policy.
    */
  private def templates(spark: SparkSession): Templates = {
    val key = bakedConfs.map(k => spark.conf.getOption(k).getOrElse(""))
    cache.synchronized {
      val perSession = Option(cache.get(spark)).getOrElse(Map.empty)
      perSession.getOrElse(key, {
        val t = build(spark)
        cache.put(spark, perSession + (key -> t))
        t
      })
    }
  }

  private def build(spark: SparkSession): Templates = {
    // an RDD-backed relation: a local one would let the optimizer fold the
    // projection into the data or prune it as empty
    val cell = spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      StructType(Seq(StructField("c", StringType))))
    def bound(c: Column): Expression =
      cell.select(c.as("v")).queryExecution.optimizedPlan match {
        case Project(Seq(Alias(e, _)), child) =>
          BindReferences.bindReference(e, child.output)
        case other => throw new IllegalStateException(
          s"CellType template did not optimize to one projection:\n$other")
      }
    Templates(bound(CellType.asNumber(col("c"))),
      bound(CellType.asTimestampRaw(col("c"))))
  }

  /** Register `cell_number(raw)` and `cell_timestamp(raw, num)` on the
    * session (idempotent and quiet) and warm its templates.
    */
  def register(spark: SparkSession): Unit = {
    templates(spark)
    val reg = spark.sessionState.functionRegistry
    def define(name: String, pick: Templates => Expression): Unit =
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name,
          exprs => CellMemo(exprs, pick(templates(SparkSession.active)), name),
          "scala_udf")
    define("cell_number", _.number)
    define("cell_timestamp", _.timestamp)
  }

  /** Column API (requires [[register]] on the session first). */
  def cellNumber(raw: Column): Column = call_function("cell_number", raw)
  def cellTimestamp(raw: Column, num: Column): Column =
    call_function("cell_timestamp", raw, num)

  // ---- codegen: one private function per template per generated class ----

  /** A template's emitted function: call as `name(row)` after
    * `row.update(0, cell)`; the result's null flag is left in `isNull`.
    */
  private[types] final case class Fn(name: String, row: String, isNull: String)

  private val emitted =
    new java.util.WeakHashMap[CodegenContext, java.util.HashMap[Expression, Fn]]()

  private[types] def function(ctx: CodegenContext, base: String,
      template: Expression): Fn = {
    val perClass = emitted.synchronized {
      emitted.computeIfAbsent(ctx, _ => new java.util.HashMap[Expression, Fn]())
    }
    Option(perClass.get(template)).getOrElse {
      val fn = emit(ctx, base, template)
      perClass.put(template, fn)
      fn
    }
  }

  private def emit(ctx: CodegenContext, base: String, template: Expression): Fn = {
    val rowClass = classOf[GenericInternalRow].getName
    val row = ctx.addMutableState(rowClass, base + "Row",
      v => s"$v = new $rowClass(1);", forceInline = true)
    val isNull = ctx.addMutableState(CodeGenerator.JAVA_BOOLEAN, base + "IsNull",
      forceInline = true)
    val input = ctx.freshName("cell")
    // generate against the function's own row parameter: no caller locals
    // (whole-stage input vars, outer subexpressions) are in scope there,
    // and Spark's own method splitting passes `input` down as INPUT_ROW
    val (savedRow, savedVars) = (ctx.INPUT_ROW, ctx.currentVars)
    ctx.INPUT_ROW = input
    ctx.currentVars = null
    val ev = try ctx.withSubExprEliminationExprs(Map.empty)(
      Seq(template.genCode(ctx))).head
    finally {
      ctx.INPUT_ROW = savedRow
      ctx.currentVars = savedVars
    }
    val name = ctx.freshName(base)
    val call = ctx.addNewFunction(name,
      s"""
         |private ${CodeGenerator.javaType(template.dataType)} $name(InternalRow $input) {
         |  ${ev.code}
         |  $isNull = ${ev.isNull};
         |  return ${ev.value};
         |}
       """.stripMargin)
    Fn(call, row, isNull)
  }
}
