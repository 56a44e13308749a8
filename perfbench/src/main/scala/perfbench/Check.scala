package perfbench

import com.fasterxml.jackson.databind.{DeserializationFeature, JsonNode, ObjectMapper}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import scala.jdk.CollectionConverters._

/** Compares a collected Spark result with a reference table that
  * `oracle.py` computed in DuckDB from the same parquet files.
  *
  * The rules follow the repo's own oracle gate (`tools/check_oracle.py`):
  * columns are matched by name, rows are compared as a multiset, and
  * values must be equal exactly. Each cell is rendered to one canonical
  * string under the Spark column's type, on both sides, so a double is
  * compared as the same IEEE value, an integer or decimal by its value,
  * and a timestamp by its UTC wall-clock text.
  */
object Check {

  val mapper: ObjectMapper =
    new ObjectMapper().enable(DeserializationFeature.USE_BIG_DECIMAL_FOR_FLOATS)

  def load(path: String): JsonNode = mapper.readTree(new java.io.File(path))

  /** None when `rows` equals the reference, else the first difference. */
  def compare(schema: StructType, rows: Array[Row], ref: JsonNode): Option[String] = {
    val refCols = ref.get("cols").elements().asScala.map(_.asText()).toVector
    val cols = schema.fieldNames.toVector
    if (cols.sorted != refCols.sorted)
      return Some(s"columns ${cols.sorted.mkString(",")} != ${refCols.sorted.mkString(",")}")
    val names = cols.sorted
    val types = names.map(n => schema(n).dataType)
    val sparkIdx = names.map(cols.indexOf(_))
    val refIdx = names.map(refCols.indexOf(_))
    val got = rows.map(r => names.indices.map(i => spark(r.get(sparkIdx(i)), types(i)))
      .mkString("\u0001")).sorted
    val want = ref.get("rows").elements().asScala.map { r =>
      names.indices.map(i => json(r.get(refIdx(i)), types(i))).mkString("\u0001")
    }.toArray.sorted
    if (got.length != want.length) Some(s"rows ${got.length} != ${want.length}")
    else got.indices.find(i => got(i) != want(i))
      .map(i => s"row $i: ${got(i).replace('\u0001', '|')} != ${want(i).replace('\u0001', '|')}")
  }

  private def dbl(d: Double): String =
    if (d == 0.0) "0.0" else java.lang.Double.toString(d)

  private def num(b: java.math.BigDecimal): String =
    if (b.signum == 0) "0" else b.stripTrailingZeros.toPlainString

  private val tsFmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")

  private def spark(v: Any, t: DataType): String = (v, t) match {
    case (null, _) => "∅"
    case (x: Double, _) => dbl(x)
    case (x: Float, _) => dbl(x.toDouble)
    case (x: java.math.BigDecimal, _) => num(x)
    case (x: Long, _) => x.toString
    case (x: Int, _) => x.toString
    case (x: Short, _) => x.toString
    case (x: Byte, _) => x.toString
    case (x: Boolean, _) => x.toString
    case (x: String, _) => x
    case (x: java.sql.Timestamp, _) =>
      x.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDateTime.format(tsFmt)
    case (x: java.time.Instant, _) => x.atZone(java.time.ZoneOffset.UTC).toLocalDateTime.format(tsFmt)
    case (x: java.time.LocalDateTime, _) => x.format(tsFmt)
    case (x: java.sql.Date, _) => x.toString
    case (x: java.time.LocalDate, _) => x.toString
    case (x: Array[Byte], _) => x.map(b => f"${b & 0xff}%02x").mkString
    case (x: scala.collection.Seq[_], ArrayType(et, _)) => x.map(spark(_, et)).mkString("[", ",", "]")
    case (x: Row, st: StructType) =>
      st.fields.indices.map(i => spark(x.get(i), st.fields(i).dataType)).mkString("{", ",", "}")
    case (x, _) => x.toString
  }

  private def json(n: JsonNode, t: DataType): String =
    if (n == null || n.isNull) "∅"
    else t match {
      case DoubleType | FloatType => dbl(java.lang.Double.parseDouble(text(n)))
      case _: DecimalType | LongType | IntegerType | ShortType | ByteType =>
        num(new java.math.BigDecimal(text(n)))
      case BooleanType => n.asText()
      case ArrayType(et, _) => n.elements().asScala.map(json(_, et)).mkString("[", ",", "]")
      case st: StructType =>
        st.fields.zipWithIndex.map { case (f, i) =>
          json(if (n.isObject) n.get(f.name) else n.get(i), f.dataType)
        }.mkString("{", ",", "}")
      case _ => n.asText()
    }

  private def text(n: JsonNode): String =
    if (n.isNumber) n.numberValue().toString else n.asText()
}
