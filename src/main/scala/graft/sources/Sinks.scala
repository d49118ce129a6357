package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Batch write-side surface (SURVEY.md §2.1 sinks S7-S10), layout-first:
  * at 100 TB the write layout IS the read plan — a table partitioned on the
  * predicate column turns a full scan into a directory listing.
  */
object Sinks {

  /** Hive-style partitioned parquet: one directory per distinct value of
    * `partitionCols`. Readers filtering on those columns get partition
    * PRUNING (directories never opened — `PartitionFilters` in the plan),
    * which is the difference between scanning 100 TB and scanning one day.
    * Choose low-cardinality columns (date, source, lang); high-cardinality
    * partitioning creates a small-file explosion instead. */
  def writePartitioned(df: DataFrame, path: String,
                       partitionCols: Seq[String],
                       mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  /** JDBC sink (S10 — the reference declares a Postgres egress; verified
    * end-to-end in SinksSpec against the embedded Derby that ships with
    * Spark's jars: write → read-back → row equality). `numPartitions`
    * caps concurrent connections — at cluster scale an unbounded writer
    * DDoSes the database; batchsize amortizes round-trips. */
  def jdbcWriter(df: DataFrame, url: String, table: String,
                 numPartitions: Int = 8, batchSize: Int = 10000): org.apache.spark.sql.DataFrameWriter[org.apache.spark.sql.Row] =
    df.coalesce(numPartitions).write.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
      .option("batchsize", batchSize)
      .option("isolationLevel", "READ_COMMITTED")
}
