package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Table access for the driver-generated Parquet star schema
  * (see FIXTURES.md). Schemas are Parquet-embedded and stable; we do not
  * re-infer. At cluster scale the same loader points at a partitioned
  * table root — all downstream operators rely only on relational
  * semantics, never on file layout.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The engine's first touch of a session: sizes the codegen cache
    * before any code is generated ([[Graft]]). */
  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    Graft.sizeCodegenCache(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  def lineitem(s: SparkSession, d: String): DataFrame   = apply(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = apply(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = apply(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = apply(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = apply(s, d, "region")
  /** `events.ts` has shipped as two physical types across fixture
    * generations: TIMESTAMP(NANOS) — which Spark's vectorized reader
    * rejects, so it is read as nano-precision Long (legacy conf) and
    * converted with exact integer arithmetic (driver data is
    * µs-aligned: `epoch_ns(ts) % 1000 = 0` on all rows, lossless) —
    * and plain TIMESTAMP(MICROS) without UTC adjustment, which Spark
    * reads as TIMESTAMP_NTZ and we cast to the session-zone timestamp
    * (session tz is pinned UTC, so the instant is identical to the
    * nanos path). Dispatch on the embedded schema, not the fixture
    * generation. */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val df = apply(s, d, "events")
    df.schema("ts").dataType match {
      case LongType => df.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => df.withColumn("ts", col("ts").cast("timestamp"))
      case _ => df
    }
  }
  def documents(s: SparkSession, d: String): DataFrame  = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
