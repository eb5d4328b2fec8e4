package graft

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Table catalog over the driver-generated parquet test tables.
  *
  * The reference (WarpDB) resolves a single `FROM <table>` against one loaded
  * file (`/root/reference/src/warpdb.cpp:159-190` extension dispatch); here the
  * catalog is a name → DataFrame mapping over a scale-factor directory, which
  * is the multi-table generalization its JOIN grammar
  * (`/root/reference/src/expression.cpp:375-401`) implies.
  *
  * Scale note: each table is a plain parquet read — Spark splits it into
  * `spark.sql.files.maxPartitionBytes`-sized partitions, so the same code path
  * serves 6k rows locally and 100 TB on a cluster. No caching here: callers
  * select/filter first so parquet column pruning + predicate pushdown stay
  * effective (caching would materialize all columns).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The table `name` under `sfDir`. Its schema comes from the file's
    * parquet footer on the driver ([[graft.store.Store.readTable]]), so a
    * load starts no Spark job. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame =
    graft.store.Store.readTable(spark, s"$sfDir/$name.parquet")

  // ---- events.ts physical-encoding normalizers -------------------------
  // The generated `events.parquet` has shipped with two different physical
  // encodings for `ts`: TIMESTAMP(NANOS) (loaded as epoch-nanos LongType
  // under spark.sql.legacy.parquet.nanosAsLong) and TIMESTAMP(MICROS)
  // isAdjustedToUTC=false (loaded as TIMESTAMP_NTZ). Any code doing unit
  // arithmetic on ts MUST go through one of these schema-driven views so it
  // is correct under either encoding — never assume the physical type.
  // Session timezone is pinned to UTC in every entrypoint builder, so the
  // NTZ→instant interpretation matches the oracle's naive-as-UTC semantics.

  /** `ts` as epoch-nanoseconds (LongType), whatever the physical encoding.
    * Gap/age constants in nanos (e.g. 30 min = 1800000000000L) work
    * unchanged against this view. */
  def tsNanos(df: DataFrame, colName: String = "ts"): Column =
    df.schema(colName).dataType match {
      case LongType => col(colName) // ns-physical parquet under nanosAsLong
      case TimestampNTZType =>
        // cast interprets the naive value in the session tz (pinned UTC)
        unix_micros(col(colName).cast(TimestampType)) * lit(1000L)
      case TimestampType => unix_micros(col(colName)) * lit(1000L)
      case other =>
        throw new IllegalArgumentException(
          s"Unsupported physical type for $colName: $other")
    }

  /** `ts` as a µs-precision TIMESTAMP (the type watermarks/windows need),
    * whatever the physical encoding. Integer `div`, NOT `/`, for the nanos
    * case: `/` routes through double, lossy above 2^53 ns. */
  def tsTimestamp(df: DataFrame, colName: String = "ts"): Column =
    df.schema(colName).dataType match {
      case LongType =>
        timestamp_micros(expr(s"$colName div 1000"))
      case TimestampNTZType => col(colName).cast(TimestampType)
      case TimestampType => col(colName)
      case other =>
        throw new IllegalArgumentException(
          s"Unsupported physical type for $colName: $other")
    }

  /** Lazy catalog for the dialect front-end's FROM/JOIN resolution. */
  def catalog(spark: SparkSession, sfDir: String): String => DataFrame =
    name => {
      require(names.contains(name), s"Unknown table: $name")
      load(spark, sfDir, name)
    }

  // ---- typed facade ----------------------------------------------------
  // Case-class views of the corpus tables for user code that wants
  // compile-time column safety: `docs.filter(_.lang == "en").map(_.text)`
  // type-checks, while the underlying plan stays Catalyst-optimized
  // (as[T] is a projection contract, not a row-by-row conversion — scans
  // still prune and push down until a typed lambda forces deserialization;
  // prefer the Column API inside hot paths, typed lambdas at the edges).

  /** One corpus document. `ts`-free tables map 1:1; nullable columns use
    * Option at the edge of user code, but the generated test data is
    * fully populated so plain fields keep the API ergonomic. */
  final case class Document(doc_id: Long, text: String, lang: String,
                            source: String, n_chars: Long)

  /** One embedding row: the vector is `Array[Float]` exactly as stored. */
  final case class Embedding(vec_id: Long, embedding: Array[Float],
                             label: Int)

  def documents(spark: SparkSession, sfDir: String): Dataset[Document] = {
    import spark.implicits._
    load(spark, sfDir, "documents").as[Document]
  }

  def embeddings(spark: SparkSession, sfDir: String): Dataset[Embedding] = {
    import spark.implicits._
    load(spark, sfDir, "embeddings").as[Embedding]
  }
}
