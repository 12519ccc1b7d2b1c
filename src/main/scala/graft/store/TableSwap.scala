package graft.store

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Stage-and-swap of one Parquet store table, the only way the store's
  * tables are replaced: write the new table beside the live one as
  * `<table>__staging`, delete the live table, rename staging into place.
  * The new table may read the one it replaces, since the live directory
  * is untouched until staging is complete.
  *
  * A crash between the delete and the rename leaves no live table and a
  * complete staging directory that holds the table as the swap wrote it.
  * [[recover]] finishes that swap; the API's import, sync and embedding
  * pass run it before they look at a table, or they would find no table
  * and write their batch alone over the staged one. A reader in the middle of a swap still finds no table. */
object TableSwap {

  /** Replaces the table at `table` with `df`. */
  def replace(df: DataFrame, table: String): Unit = {
    val (fs, live, staging) = paths(df.sparkSession, table)
    df.write.mode("overwrite").parquet(staging.toString)
    fs.delete(live, true)
    fs.rename(staging, live)
  }

  /** Promotes a complete staging directory whose live table is missing.
    * Staging is complete once its write committed (`_SUCCESS`); a staging
    * directory beside a live table, or without `_SUCCESS`, is a swap that
    * died while writing, and the next [[replace]] overwrites it. */
  def recover(spark: SparkSession, table: String): Unit = {
    val (fs, live, staging) = paths(spark, table)
    if (!fs.exists(live) && fs.exists(new Path(staging, "_SUCCESS"))) fs.rename(staging, live)
  }

  private def paths(spark: SparkSession, table: String): (FileSystem, Path, Path) = {
    val live = new Path(table)
    (live.getFileSystem(spark.sessionState.newHadoopConf()), live, new Path(table + "__staging"))
  }
}
