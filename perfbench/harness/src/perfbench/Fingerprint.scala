package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.{ArrayData, MapData}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Order-independent digest of a result: row count, the wrapping sum of
  * per-row hashes and their xor. Summing makes it independent of row order
  * and partition count while still counting duplicate rows.
  */
final case class Digest(rows: Long, sum: Long, xor: Long) {
  def hex: String = f"$rows%d:$sum%016x:$xor%016x"
}

object Fingerprint {

  /** Significant decimal digits a double (a float) is hashed with. The last
    * bits of a floating-point aggregate depend on the order its partial
    * results are merged in, which follows the partition count, so a digest
    * of the exact bits would change with the number of cores.
    */
  val DoubleDigits = 10
  val FloatDigits = 6

  /** The timed action. Streams every row and column of the DataFrame's own,
    * unmodified physical plan (`queryExecution.toRdd`) through the digest in
    * one pass. Nothing is layered on top of the plan, so Catalyst can neither
    * prune columns (as under `count()`) nor drop the final sort (as under an
    * aggregate wrapped around the frame).
    */
  def of(df: DataFrame): Digest = {
    val qe = df.queryExecution
    val types = df.schema.fields.map(_.dataType)
    val seed = XxHash64Function.hash(
      UTF8String.fromString(df.schema.simpleString), StringType, 42L)
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench digest")) {
      qe.toRdd.mapPartitions { it =>
        var n = 0L
        var s = 0L
        var x = 0L
        while (it.hasNext) {
          val h = fields(it.next(), types, seed)
          n += 1
          s += h
          x ^= h
        }
        Iterator((n, s, x))
      }.collect()
    }
    parts.foldLeft(Digest(0L, 0L, 0L)) { case (d, (n, s, x)) =>
      Digest(d.rows + n, d.sum + s, d.xor ^ x)
    }
  }

  private def fields(row: InternalRow, types: Array[DataType], seed: Long): Long = {
    var h = seed
    var i = 0
    while (i < types.length) {
      h = if (row.isNullAt(i)) XxHash64Function.hash(-1L - i, LongType, h)
          else hash(row.get(i, types(i)), types(i), h)
      i += 1
    }
    h
  }

  private def elements(a: ArrayData, t: DataType, seed: Long): Long = {
    var h = XxHash64Function.hash(a.numElements(), IntegerType, seed)
    var i = 0
    while (i < a.numElements()) {
      h = if (a.isNullAt(i)) XxHash64Function.hash(-1L - i, LongType, h)
          else hash(a.get(i, t), t, h)
      i += 1
    }
    h
  }

  private def hasFloat(t: DataType): Boolean = t match {
    case DoubleType | FloatType => true
    case ArrayType(et, _)       => hasFloat(et)
    case st: StructType         => st.fields.exists(f => hasFloat(f.dataType))
    case MapType(kt, vt, _)     => hasFloat(kt) || hasFloat(vt)
    case _                      => false
  }

  /** Hash of one non-null value. Types that hold no floating point go to
    * Spark's own xxHash64; doubles and floats, also inside arrays, structs
    * and maps, are hashed rounded to their significant digits.
    */
  private def hash(v: Any, t: DataType, seed: Long): Long = t match {
    case DoubleType => rounded(v.asInstanceOf[Double], DoubleDigits, seed)
    case FloatType  => rounded(v.asInstanceOf[Float].toDouble, FloatDigits, seed)
    case ArrayType(et, _) if hasFloat(et) => elements(v.asInstanceOf[ArrayData], et, seed)
    case st: StructType if hasFloat(st) =>
      fields(v.asInstanceOf[InternalRow], st.fields.map(_.dataType), seed)
    case MapType(kt, vt, _) if hasFloat(t) =>
      val m = v.asInstanceOf[MapData]
      elements(m.valueArray(), vt, elements(m.keyArray(), kt, seed))
    case _ => XxHash64Function.hash(v, t, seed)
  }

  /** Hash of `d` rounded to `digits` significant digits: of its decimal
    * mantissa and exponent, so no binary rounding noise is left. Zero (also
    * -0.0), NaN and the infinities hash as themselves.
    */
  def rounded(d: Double, digits: Int, seed: Long): Long =
    if (d == 0.0 || d.isNaN || d.isInfinite) {
      XxHash64Function.hash(if (d == 0.0) 0.0 else d, DoubleType, seed)
    } else {
      val lo = math.pow(10, digits - 1)
      var e = math.floor(math.log10(math.abs(d))).toInt
      def mantissa = math.round(d * math.pow(10, digits - 1 - e))
      var m = mantissa
      if (math.abs(m) >= lo * 10) { e += 1; m = mantissa }
      else if (math.abs(m) < lo) { e -= 1; m = mantissa }
      XxHash64Function.hash(m, LongType, XxHash64Function.hash(e, IntegerType, seed))
    }
}
