package perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** An order-insensitive digest of a result: the row count and the exact
  * sum of a 64-bit hash of every row, where the hash covers every output
  * column and its null flag. Because every column feeds the hash,
  * Catalyst cannot prune any of them (a `.count()` can). Doubles are
  * hashed at float precision, so a sum whose last bits depend on task
  * order still gives one digest. */
final case class Fingerprint(schema: String, rows: Long, hash: String)

object Fingerprint {
  private def canon(c: Column, t: DataType): Column = t match {
    case DoubleType => c.cast(FloatType)
    case _: MapType => to_json(struct(c))
    case _ => c
  }

  def of(df: DataFrame): Fingerprint = {
    val fields = df.schema.fields.toSeq
    // Positional names: duplicate or dotted output names cannot collide.
    val named = df.toDF(fields.indices.map(i => s"c$i"): _*)
    val cells = fields.zipWithIndex.flatMap { case (f, i) =>
      Seq(col(s"c$i").isNull, canon(col(s"c$i"), f.dataType))
    }
    val rowHash = if (cells.isEmpty) lit(0L) else xxhash64(cells: _*)
    val r = named.select(rowHash.cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(BigDecimal(0))))
      .head()
    Fingerprint(df.schema.simpleString, r.getLong(0), r.getDecimal(1).toPlainString)
  }
}

/** One line per key of `expected.tsv`: `key, kind, rows, hash, schema`.
  * `kind` is `oracle` (rows and hash must match; recorded only after the
  * DuckDB oracle compare passed) or `rows` (schema must match and the
  * result must not be empty). */
final case class Expected(kind: String, rows: Long, hash: String, schema: String) {
  /** None when `fp` is acceptable, else why not. */
  def mismatch(fp: Fingerprint): Option[String] =
    if (fp.schema != schema) Some(s"schema ${fp.schema} != $schema")
    else if (kind == "rows") { if (fp.rows > 0) None else Some("empty result") }
    else if (fp.rows != rows) Some(s"rows ${fp.rows} != $rows")
    else if (fp.hash != hash) Some(s"hash ${fp.hash} != $hash")
    else None
}

object Expected {
  def load(path: String): Map[String, Expected] = {
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try src.getLines().filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val Array(key, kind, rows, hash, schema) = l.split("\t", 5)
      key -> Expected(kind, rows.toLong, hash, schema)
    }.toMap
    finally src.close()
  }
}
