package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types._

/** Single-pass NaN-skipping statistics kernel over one `array<double>`
  * row payload: struct(n_total, n_valid, vmin, vmax, vsum, vsumsq).
  *
  * This is the per-row PARTIAL of the band-statistics aggregate (A2, ref
  * utils.py:213-259): downstream, a plain `groupBy(...).agg(sum/min/max)`
  * over these six scalars finishes the job. The scale point of keeping
  * the scanline array intact: the explode-then-aggregate formulation
  * shuffles one row PER GRID CELL (a 432×432 EASE grid multiplies row
  * count ~200000×), while this shape shuffles six numbers per scanline —
  * the map-side combine happens inside the expression, in whole-stage
  * codegen, before the exchange even sees the data.
  *
  * vmin/vmax are NaN when no valid values exist (callers guard with
  * n_valid). Accumulation is left-to-right in double, matching numpy's
  * sequential fold on the same scanline.
  */
final case class VecStatsExpr(child: Expression) extends UnaryExpression {

  override def nullIntolerant: Boolean = true
  override def prettyName: String = "vec_stats"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(DoubleType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"vec_stats expects array<double>, got ${t.sql}")
  }

  override def dataType: DataType = new StructType()
    .add("n_total", IntegerType, nullable = false)
    .add("n_valid", IntegerType, nullable = false)
    .add("vmin", DoubleType, nullable = false)
    .add("vmax", DoubleType, nullable = false)
    .add("vsum", DoubleType, nullable = false)
    .add("vsumsq", DoubleType, nullable = false)

  override def nullSafeEval(input: Any): Any = {
    val a = input.asInstanceOf[ArrayData]
    val f = new VecStatsExpr.LineFold
    var i = 0
    while (i < a.numElements()) {
      if (a.isNullAt(i)) f.skip() else f.add(a.getDouble(i))
      i += 1
    }
    new GenericInternalRow(Array[Any](f.n, f.valid, f.mn, f.mx, f.s, f.s2))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val n = ctx.freshName("n"); val i = ctx.freshName("i")
      val valid = ctx.freshName("valid"); val v = ctx.freshName("v")
      val mn = ctx.freshName("mn"); val mx = ctx.freshName("mx")
      val s = ctx.freshName("s"); val s2 = ctx.freshName("s2")
      val rowCls = classOf[GenericInternalRow].getName
      s"""
         |int $n = $a.numElements();
         |int $valid = 0;
         |double $mn = Double.NaN, $mx = Double.NaN, $s = 0.0, $s2 = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i)) {
         |    double $v = $a.getDouble($i);
         |    if (!Double.isNaN($v)) {
         |      if ($valid == 0 || $v < $mn) $mn = $v;
         |      if ($valid == 0 || $v > $mx) $mx = $v;
         |      $s += $v; $s2 += $v * $v; $valid++;
         |    }
         |  }
         |}
         |${ev.value} = new $rowCls(new Object[] {
         |  java.lang.Integer.valueOf($n), java.lang.Integer.valueOf($valid),
         |  java.lang.Double.valueOf($mn), java.lang.Double.valueOf($mx),
         |  java.lang.Double.valueOf($s), java.lang.Double.valueOf($s2) });
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): VecStatsExpr =
    copy(child = newChild)
}

object VecStatsExpr {
  /** Column-level entry point. */
  def vecStats(a: Column): Column = Bridge.column(VecStatsExpr(Bridge.expression(a)))

  /** One scanline's fold, left to right in double: the arithmetic
    * `doGenCode` emits and `nullSafeEval` runs.
    */
  final class LineFold {
    var n = 0; var valid = 0
    var mn = Double.NaN; var mx = Double.NaN
    var s = 0.0; var s2 = 0.0
    def skip(): Unit = n += 1
    def add(v: Double): Unit = {
      n += 1
      if (!java.lang.Double.isNaN(v)) {
        if (valid == 0 || v < mn) mn = v
        if (valid == 0 || v > mx) mx = v
        s += v; s2 += v * v; valid += 1
      }
    }
  }

  /** A band's statistics from its scanlines, fed in y order: each
    * scanline folds through [[LineFold]], and the partials combine the
    * way `groupBy(...).agg(sum, min, max)` over `vec_stats` rows in that
    * order does (sums start from 0.0; min/max range over scanlines with a
    * valid value and keep the first of equals), so the doubles equal the
    * aggregate's bit for bit. min/max stay NaN when nothing is valid.
    */
  final class BandFold {
    var nTotal = 0L; var nValid = 0L
    var min = Double.NaN; var max = Double.NaN
    var sum = 0.0; var sumSq = 0.0
    def add(values: Array[Double]): Unit = {
      val f = new LineFold
      var i = 0
      while (i < values.length) { f.add(values(i)); i += 1 }
      if (f.valid > 0) {
        if (nValid == 0 || f.mn < min) min = f.mn
        if (nValid == 0 || f.mx > max) max = f.mx
      }
      nTotal += f.n; nValid += f.valid
      sum += f.s; sumSq += f.s2
    }
  }
}
