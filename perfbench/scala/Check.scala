package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A stage table's row count, digest, and the sum of its key column. */
final case class Digest(rows: Long, value: String, keySum: Long)

/** Output checks run after every pipeline run, outside the timed region. */
object Check {

  /** Order-independent digests of stage tables, in one Spark job: per
    * table the row count, the sum and the xor of per-row xxhash64 values,
    * and a hash of the schema. Doubles are rounded to 9 decimal places
    * first, so a digest does not depend on the last bits of a
    * floating-point reduction. `keySums` names a long column per table
    * whose sum the same job returns.
    */
  def digests(spark: SparkSession, tables: Seq[(String, String)],
              keySums: Map[String, String]): Map[String, Digest] = {
    val frames = tables.map { case (t, dir) => t -> spark.read.parquet(dir) }
    val hashed = frames.map { case (t, df) =>
      val cols = df.schema.fields.toSeq.map { f =>
        val c = col(s"`${f.name}`")
        f.dataType match {
          case DoubleType | FloatType => round(c.cast(DoubleType), 9)
          case _ => c
        }
      }
      val key = keySums.get(t).map(k => col(s"`$k`").cast(LongType)).getOrElse(lit(0L))
      df.select(lit(t).as("t"), xxhash64(cols: _*).as("h"), key.as("k"))
    }.reduce(_ union _)
    val agg = hashed.groupBy("t")
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))), bit_xor(col("h")), sum(col("k")))
      .collect().map(r => r.getString(0) -> r).toMap
    frames.map { case (t, df) =>
      val schemaHash = java.lang.Integer.toHexString(df.schema.simpleString.hashCode)
      t -> agg.get(t).map { r =>
        Digest(r.getLong(1), f"${r.getLong(1)}:${r.getDecimal(2)}:${r.getLong(3)}%016x:$schemaHash",
          if (r.isNullAt(4)) 0L else r.getLong(4))
      }.getOrElse(Digest(0L, s"0:0:0000000000000000:$schemaHash", 0L))
    }.toMap
  }

  /** Replace one non-null double in `dir` (the row with the smallest
    * monotonically increasing id) by itself + 1 — the negative control
    * that every check must catch.
    */
  def corruptOneRow(spark: SparkSession, dir: String): Unit = {
    val df = spark.read.parquet(dir).withColumn("__rid", monotonically_increasing_id())
    val c = df.schema.fields.find(_.dataType == DoubleType).map(_.name)
      .getOrElse(throw new IllegalArgumentException(s"$dir has no double column"))
    val target = df.filter(col(s"`$c`").isNotNull).agg(min("__rid")).head().getLong(0)
    val tmp = dir + ".corrupt"
    df.withColumn(c, when(col("__rid") === target, col(s"`$c`") + 1.0).otherwise(col(s"`$c`")))
      .drop("__rid").write.mode("overwrite").parquet(tmp)
    val fs = new org.apache.hadoop.fs.Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(dir), true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp), new org.apache.hadoop.fs.Path(dir))
  }
}
