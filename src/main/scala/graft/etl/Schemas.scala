package graft.etl

import org.apache.spark.sql.types._

/** Schemas for the reference-shaped minute-bar CSV pipeline.
  *
  * Input header (identical across all reference files, see
  * /root/reference/btc_etl.py:152 and the dataset-test CSV files):
  * `Time,Open,High,Low,Close,Volume_(BTC),Volume_(Currency),Weighted_Price`.
  *
  * The schema is passed explicitly to the reader — the reference relies on
  * pandas type inference (btc_etl.py:152); at 100 TB an inference pass over
  * the data is a full extra scan, so the engine never infers in the prod
  * path.
  */
object Schemas {

  /** Raw CSV read schema. `Time` stays a string until the timestamp is
    * assembled with the filename date; empty metric cells become nulls
    * (Spark CSV default nullValue = ""). */
  val btcCsv: StructType = StructType(Seq(
    StructField("Time", StringType, nullable = true),
    StructField("Open", DoubleType, nullable = true),
    StructField("High", DoubleType, nullable = true),
    StructField("Low", DoubleType, nullable = true),
    StructField("Close", DoubleType, nullable = true),
    StructField("Volume_(BTC)", DoubleType, nullable = true),
    StructField("Volume_(Currency)", DoubleType, nullable = true),
    StructField("Weighted_Price", DoubleType, nullable = true),
  ))

  /** Rename map raw -> sink (btc_etl.py:166-174). */
  val renameMap: Map[String, String] = Map(
    "Open" -> "open_price",
    "High" -> "high_price",
    "Low" -> "low_price",
    "Close" -> "close_price",
    "Volume_(BTC)" -> "volume_btc",
    "Volume_(Currency)" -> "volume_currency",
    "Weighted_Price" -> "weighted_price",
  )

  /** The 7 metric columns whose all-null rows are dropped (btc_etl.py:160). */
  val metricCols: Seq[String] =
    Seq("Open", "High", "Low", "Close", "Volume_(BTC)", "Volume_(Currency)", "Weighted_Price")

  /** Final sink column order (btc_etl.py:176). */
  val sinkCols: Seq[String] = Seq(
    "date_time", "open_price", "high_price", "low_price", "close_price",
    "volume_btc", "volume_currency", "weighted_price")

  /** The date-partitioned sink as read back: the sink columns plus the
    * `date` partition column. Readers pass it explicitly, so a sink whose
    * only content is a crashed write's `_temporary/` reads as empty instead
    * of failing schema inference. */
  val sink: StructType = StructType(
    StructField("date_time", TimestampType, nullable = true) +:
      sinkCols.tail.map(StructField(_, DoubleType, nullable = true)) :+
      StructField("date", DateType, nullable = true))

  /** Filename pattern `btcusd-YYYY-MM-DD.csv`, anchored both ends; combined
    * with a strict date parse this reproduces utils.py:5-15 exactly
    * (prefix + length-21 + strptime). */
  val filenameRegex = "^btcusd-\\d{4}-\\d{2}-\\d{2}\\.csv$"
}
