package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided parquet tables (TESTDATA.md).
  *
  * `events.ts` has shipped in two encodings across fixture generations:
  * parquet TIMESTAMP(NANOS) (read as int64 under
  * `spark.sql.legacy.parquet.nanosAsLong=true`, which sessions still set
  * for old fixtures) and parquet TIMESTAMP(MICROS) (read natively as a
  * timestamp). The loader sniffs the arrived type: an integer column is
  * rebuilt into a microsecond TimestampType with integer arithmetic
  * (`DIV`, not `/` — ns-since-epoch overflows double precision); a native
  * timestamp passes through, cast to session-TZ TimestampType so
  * downstream date arithmetic is encoding-independent. Day/week-level
  * semantics match DuckDB's handling exactly in both cases.
  */
object Tables {
  val names: Seq[String] = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "events", "documents", "embeddings")

  /** Session conf required to read the `events` table (nanos timestamps)
    * plus the lake TVF SQL sugar; apply at session build. */
  val sessionConf: Map[String, String] = Map(
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.lake.GraftExtensions",
    // local writes set file and directory permissions in-process instead of
    // forking `chmod` per file (graft.lake.NoForkLocalFs); Hadoop caches
    // the FileSystem per scheme, so this must be set at session build
    "spark.hadoop.fs.file.impl" -> "graft.lake.NoForkLocalFs",
    // memory-sink stream entries use engine-made temp checkpoints; force
    // their deletion on stop so the bench/verify tail carries no
    // "temp checkpoint will not be deleted" WARN lines (r11 verdict #4)
    "spark.sql.streaming.forceDeleteTempCheckpointLocation" -> "true",
    // Shuffled-hash over sort-merge: equi-joins on parquet-backed frames
    // build a per-partition hash table instead of fully sorting both sides
    // — the sf10 bench showed the two 60M-row sorts in q03/q05 were the
    // single largest cost vs DuckDB (whose joins are hash-based). The
    // planner still requires the build side to fit a partition-local map
    // (canBuildLocalHashMap gates on size stats), so V1 lake relations
    // with unknown sizes keep sort-merge.
    // (A raised autoBroadcastJoinThreshold was measured WORSE: a
    // multi-million-row dim then broadcasts, and the hashed-relation build
    // is single-threaded on the driver. Queries that want a parallel
    // per-partition hash build on a mid-size side use an explicit
    // shuffle_hash hint instead.)
    "spark.sql.join.preferSortMergeJoin" -> "false",
    // Runtime bloom-filter joins: let the filtered/semi-reduced side of a
    // shuffle join inject a bloom filter into the big probe scan, cutting
    // probe-side shuffle volume before the exchange. The default 10 MB
    // creation-side gate rejects any dim bigger than toy scale; the bloom
    // itself stays small (maxNumBits-bounded), so a sub-512 MB creation
    // side is exactly the 100 TB-cluster trade (tiny broadcast, huge
    // shuffle saving).
    "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "512MB",
    // ...and the probe-side gate: injection only happens when the
    // application-side SCAN outweighs this (default 10 GB — sized for real
    // clusters; at 100 TB it fires untouched). The sf10 bench scans ~2 GB,
    // so without lowering it the bloom never fired and q03/q05 shipped the
    // whole fact table through their exchanges. A distributed
    // BloomFilterAggregate build beats a driver-built broadcast-semi of
    // millions of keys (measured: the 3M-key LongHashedRelation build cost
    // more than it saved).
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "256MB")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (name == "events") {
      import org.apache.spark.sql.types.{LongType, TimestampType}
      val raw = spark.read.parquet(s"$dir/events.parquet")
      raw.schema("ts").dataType match {
        case LongType => // legacy nanosAsLong fixture: int64 ns since epoch
          raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
        case TimestampType => raw
        case _ => // TIMESTAMP_NTZ (timestamp[us] fixture): align to TimestampType
          raw.withColumn("ts", col("ts").cast(TimestampType))
      }
    } else spark.read.parquet(s"$dir/$name.parquet")
  }
}
