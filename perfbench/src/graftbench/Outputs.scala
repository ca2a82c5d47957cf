package graftbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive digest of a query result: row count plus the exact
  * decimal sum of one xxhash64 per row over the columns sorted by name.
  * Floats are compared exactly, as the DuckDB oracle check compares them
  * (the board's convention rounds inside the query); only the sign of zero
  * is normalized. Map columns hash through `to_json`. */
object Outputs {

  final case class Digest(rows: Long, hash: String)

  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType => when(c === lit(0.0), lit(0.0)).otherwise(c)
    case FloatType  => when(c === lit(0.0f), lit(0.0f)).otherwise(c)
    case _: MapType => to_json(c)
    case _          => c
  }

  def digest(df: DataFrame): Digest = {
    val fields = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    // Positional rename: duplicate or dotted names can never be ambiguous.
    val positional = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val cols = fields.map { case (f, i) => norm(col(s"c$i"), f.dataType) }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val r = positional.select(h.cast("decimal(38,0)").as("h"))
      .agg(count(lit(1)), sum(col("h"))).head()
    val names = fields.map(_._1.name).mkString(",")
    Digest(r.getLong(0), s"$names|${Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")}")
  }
}
