package graft.store

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The file-set swap, the only way the store's tables change. A table is
  * a directory of Parquet files (partition subdirectories included); a
  * commit replaces some of its files with new ones, and replacing a whole
  * table is swapping all its files.
  *
  * A commit has three steps:
  *  1. [[stage]] writes each table's new files into `<table>__stage`
  *     beside it; the live table is untouched, so a staged frame may read
  *     the table it replaces;
  *  2. [[swap]] records every move (staged file to live name) and every
  *     replaced live file, for all the commit's tables at once, in one
  *     swap record `_swap` under the store root. The record's rename is
  *     the commit point;
  *  3. it moves the staged files in, then deletes the replaced ones, and
  *     drops the stage directories and the record. A table the commit
  *     creates gets its whole stage directory renamed into place.
  *
  * Files move in before the replaced ones go, so every committed row is
  * in some live file at each step: a reader in the middle of a swap may
  * see a replaced row next to its replacement, but never loses one.
  * Readers that need one consistent snapshot wait for a pointer commit.
  *
  * [[recover]] finishes a swap that a crash cut after its commit point,
  * and drops the stage directories of one cut before it, so the next
  * writer sees either every table of the commit or none. It also promotes
  * a table whose live directory is missing beside a complete
  * `<table>__staging`: the layout of the whole-table swap this one
  * replaced (write staging, delete live, rename), cut between its delete
  * and its rename. */
object TableSwap {

  /** One table's part of a commit: staged files (relative to the stage
    * directory) and their live names, and the live files it replaces
    * (relative to the table). With `create`, the table does not exist yet
    * and its whole stage directory becomes the table. */
  final case class Change(table: String, moves: Seq[(String, String)],
      replaced: Seq[String], create: Boolean = false)

  /** A live data file: its path relative to the table, its generation
    * (0 for a file this swap did not name) and its size. */
  final case class LiveFile(name: String, gen: Long, bytes: Long)

  /** Called with the name of each step a commit takes: `staged <table>`,
    * `recorded`, `moved <file>`, `deleted <file>`. Fault-injection specs
    * throw from it to cut a commit at that step. */
  @volatile private[graft] var onStep: String => Unit = _ => ()

  private val Record = "_swap"
  private val GenName = """gen-(\d{8})-(\d{5})\.parquet""".r

  /** The name of the `k`-th file written at generation `gen`. Files that
    * sort later by (gen, k) are newer. */
  def genName(gen: Long, k: Int): String = f"gen-$gen%08d-$k%05d.parquet"

  private def stageDir(table: String): String = table + "__stage"

  /** Writes `df` into the stage directory of `table` (under `root`) and
    * returns its data files, relative to that directory. */
  def stage(df: DataFrame, root: String, table: String, partitionBy: Seq[String] = Nil): Seq[String] = {
    val dir = s"$root/${stageDir(table)}"
    df.write.mode("overwrite").partitionBy(partitionBy: _*).parquet(dir)
    onStep(s"staged $table")
    dataFiles(fs(df.sparkSession, dir), new Path(dir)).map(_._1)
  }

  /** A change that moves what [[stage]] wrote for `table` (under `root`)
    * into it under the same names, replacing every live file when
    * `replace` and none (an append) otherwise. A missing table is created
    * from its stage directory. */
  def change(spark: SparkSession, root: String, table: String, staged: Seq[String],
      replace: Boolean): Change = {
    val live = new Path(root, table)
    val fs0 = fs(spark, root)
    if (!fs0.exists(live)) Change(table, Nil, Nil, create = true)
    else Change(table, staged.map(f => f -> f), if (replace) dataFiles(fs0, live).map(_._1) else Nil)
  }

  /** Commits `changes` (tables under `root`) as one swap. */
  def swap(spark: SparkSession, root: String, changes: Seq[Change]): Unit = {
    val fs0 = fs(spark, root)
    val lines = changes.flatMap { c =>
      if (c.create) Seq(s"create\t${c.table}")
      else c.moves.map { case (a, b) => s"move\t${c.table}\t$a\t$b" } ++
        c.replaced.map(f => s"delete\t${c.table}\t$f")
    }
    val tmp = new Path(root, Record + ".tmp")
    val out = fs0.create(tmp, true)
    try out.write(lines.mkString("", "\n", "\n").getBytes(UTF_8)) finally out.close()
    fs0.rename(tmp, new Path(root, Record))
    onStep("recorded")
    finish(fs0, root, lines)
  }

  /** Finishes a swap cut after its commit point and drops the stage
    * directories of `tables` (under `root`) that no swap recorded; then
    * promotes each listed table found only as a complete legacy
    * `<table>__staging`. */
  def recover(spark: SparkSession, root: String, tables: Seq[String]): Unit = {
    val fs0 = fs(spark, root)
    val record = new Path(root, Record)
    if (fs0.exists(record)) {
      val in = fs0.open(record)
      val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
      finish(fs0, root, text.linesIterator.filter(_.nonEmpty).toSeq)
    }
    tables.foreach { t =>
      val live = new Path(root, t)
      fs0.delete(new Path(root, stageDir(t)), true)
      val legacy = new Path(root, t + "__staging")
      if (!fs0.exists(live) && fs0.exists(new Path(legacy, "_SUCCESS"))) fs0.rename(legacy, live)
    }
  }

  /** Applies a recorded swap; every step is idempotent, so a swap cut
    * anywhere in here is finished by running it again. */
  private def finish(fs: FileSystem, root: String, lines: Seq[String]): Unit = {
    val ops = lines.map(_.split("\t").toSeq)
    ops.foreach {
      case Seq("create", t) =>
        val stage = new Path(root, stageDir(t))
        if (fs.exists(stage) && !fs.exists(new Path(root, t))) {
          fs.mkdirs(new Path(root, t).getParent)
          fs.rename(stage, new Path(root, t))
          onStep(s"moved $t")
        }
      case Seq("move", t, from, to) =>
        val src = new Path(new Path(root, stageDir(t)), from)
        if (fs.exists(src)) {
          val dst = new Path(new Path(root, t), to)
          fs.mkdirs(dst.getParent)
          fs.rename(src, dst)
          onStep(s"moved $t/$to")
        }
      case _ =>
    }
    ops.foreach {
      case Seq("delete", t, f) =>
        val p = new Path(new Path(root, t), f)
        if (fs.delete(p, false)) {
          dropEmptyParents(fs, p.getParent, new Path(root, t))
          onStep(s"deleted $t/$f")
        }
      case _ =>
    }
    ops.map(_(1)).distinct.foreach(t => fs.delete(new Path(root, stageDir(t)), true))
    fs.delete(new Path(root, Record), false)
  }

  /** Deletes `dir` and its parents up to (not including) `top` while they
    * are empty: a partition the swap emptied leaves no directory. */
  private def dropEmptyParents(fs: FileSystem, dir: Path, top: Path): Unit = {
    var d = dir
    while (d != null && d.depth() > top.depth() && fs.listStatus(d).isEmpty) {
      fs.delete(d, false)
      d = d.getParent
    }
  }

  /** The live data files of `table`, oldest first, each with its row
    * count from its Parquet footer. */
  def liveFiles(spark: SparkSession, table: String): Seq[LiveFile] =
    dataFiles(fs(spark, table), new Path(table)).map { case (f, bytes) =>
      LiveFile(f, f match { case GenName(g, _) => g.toLong; case _ => 0L }, bytes)
    }.sortBy(f => (f.gen, f.name))

  private def fs(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sessionState.newHadoopConf())

  /** Data files under `dir`, relative to it, with their sizes; Spark's
    * own markers (`_*`, `.*`) are not data. The walk uses `listStatus`:
    * `listFiles` builds a `LocatedFileStatus` per file, whose permission
    * lookup forks an `ls` on a local file system without native IO. */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[(String, Long)] = {
    def walk(d: Path, prefix: String): Seq[(String, Long)] =
      fs.listStatus(d).toSeq.flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") && !name.contains("=") || name.startsWith(".")) Nil
        else if (st.isDirectory) walk(st.getPath, prefix + name + "/")
        else Seq(prefix + name -> st.getLen)
      }
    if (fs.exists(dir)) walk(dir, "").sortBy(_._1) else Nil
  }
}
