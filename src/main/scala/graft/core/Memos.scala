package graft.core

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue,
  CopyOnWriteArrayList}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Driver-side reuse and release of fit-once results: graft's stand-in
  * for the key-shared task graph and `persist` lifetimes dask-ml gets
  * from its scheduler.
  *
  * [[Memo]] — a per-data-dir memo built from one
  * `(SparkSession, dir) => V` function:
  *  - `apply(s, dir)` runs the build at most once per dir and serves the
  *    stored value afterwards;
  *  - every memo owns its own map, so a build may call other memos;
  *  - the data under a dir must not change while a value built from it
  *    is held: the build records a fingerprint of the table files (path,
  *    length and modification time of every file under each
  *    [[Tables.names]] path) and a later hit whose fingerprint differs
  *    throws `IllegalStateException` naming the dir;
  *  - values are driver-side summaries (center matrices, collected pair
  *    lists) or bounded projections persisted through [[persist]] —
  *    never unprojected corpus rows.
  *
  * [[persist]] — persists a frame at MEMORY_AND_DISK and registers it
  * for release by [[clearAll]]. It is for frames no single function
  * owns: memo values and intermediates that outlive the call that made
  * them. A function that unpersists its own frame persists it directly.
  *
  * [[clearAll]] drops every memo's values and unpersists every
  * registered frame; Bench calls it between passes so each pass re-pays
  * the real fit costs.
  */
object Memos {
  private val memos = new CopyOnWriteArrayList[Memo[_]]()
  private val frames = new ConcurrentLinkedQueue[DataFrame]()

  /** (path, length, modification time) of every table file under a dir. */
  private type Fingerprint = Seq[(String, Long, Long)]

  private def fingerprint(s: SparkSession, dir: String): Fingerprint = {
    val conf = s.sparkContext.hadoopConfiguration
    // listStatus, not listFiles: a located status of a local file reads
    // its owner and permissions through a forked `ls`, ~5 ms per file
    def files(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory) fs.listStatus(st.getPath).toSeq.flatMap(files(fs, _))
      else Seq(st)
    Tables.names.flatMap { name =>
      val p = new Path(s"$dir/$name.parquet")
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Nil
      else files(fs, fs.getFileStatus(p))
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .sortBy(_._1)
    }
  }

  final class Memo[V] private[Memos] (build: (SparkSession, String) => V) {
    private val entries = new ConcurrentHashMap[String, (Fingerprint, V)]()

    def apply(s: SparkSession, dir: String): V = {
      val fp = fingerprint(s, dir)
      val (builtOn, v) = entries.computeIfAbsent(dir, d => (fp, build(s, d)))
      if (builtOn != fp)
        throw new IllegalStateException(
          s"data dir $dir changed after a memo was built from it")
      v
    }

    /** Every value currently held, in no particular order. */
    def values: List[V] = entries.values.asScala.map(_._2).toList

    private[Memos] def clear(): Unit = entries.clear()
  }

  def memo[V](build: (SparkSession, String) => V): Memo[V] = {
    val m = new Memo(build)
    memos.add(m)
    m
  }

  def persist(df: DataFrame): DataFrame = {
    frames.add(df.persist(StorageLevel.MEMORY_AND_DISK))
    df
  }

  def clearAll(): Unit = {
    memos.forEach(_.clear())
    Iterator.continually(frames.poll()).takeWhile(_ != null)
      .foreach(_.unpersist(blocking = false))
  }
}
