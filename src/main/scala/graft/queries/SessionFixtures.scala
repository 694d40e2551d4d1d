package graft.queries

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileUtil, Path}
import org.apache.spark.sql.SparkSession

/** Session fixtures of the query board: the O(corpus) setup a query
  * stands on (an index bootstrap, a staged table layout) is built ONCE
  * per (recipe, sf dir) per JVM, so a bench rep times the operator, not
  * its setup. A read-only query reads the [[shared]] snapshot itself; a
  * query that mutates its index works on [[cloned]] directories holding
  * a private copy of the snapshot. Queries that name the same recipe
  * share one snapshot, so they must pass the same build. */
private[queries] object SessionFixtures {

  /** One (recipe, sf dir)'s snapshot. The build runs under the cell's
    * own lock, never the map's bin lock, so a build that asks for
    * another fixture cannot hit a recursive map update and unrelated
    * builds do not serialise; a build that throws leaves the cell
    * empty, so the next caller retries it. */
  private final class Cell {
    @volatile private var dirs: Seq[String] = _
    def get(build: => Seq[String]): Seq[String] = {
      val d = dirs
      if (d != null) d
      else synchronized {
        if (dirs == null) dirs = build
        dirs
      }
    }
  }

  private val cells = new ConcurrentHashMap[(String, String), Cell]()

  /** `recipe`'s snapshot for sf dir `dir`: one directory per part,
    * filled by `build` on the first call of the session. */
  def shared(recipe: String, dir: String, parts: Seq[String])
            (build: Seq[String] => Unit): Seq[String] =
    cells.computeIfAbsent((recipe, dir), _ => new Cell).get {
      val ds = parts.map(p =>
        MlQueries.tempDirDeletedOnExit(s"graft_${recipe}_snap_${p}_"))
      build(ds)
      ds
    }

  /** Fresh working directories, one per part, each holding a copy of
    * the matching [[shared]] snapshot directory. */
  def cloned(spark: SparkSession, recipe: String, dir: String,
             parts: Seq[String])(build: Seq[String] => Unit): Seq[String] = {
    val snap = shared(recipe, dir, parts)(build)
    val work = parts.map(p =>
      MlQueries.tempDirDeletedOnExit(s"graft_${recipe}_${p}_"))
    snap.zip(work).foreach { case (s, w) => copyDirContents(spark, s, w) }
    work
  }

  /** Copy `src`'s contents under the existing dir `dst` (local-FS
    * snapshot clone; bounded by the index size at fixture SF). */
  private def copyDirContents(spark: SparkSession, src: String, dst: String): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val sp = new Path(src)
    val fs = sp.getFileSystem(conf)
    // One entry per bucket/cell generation directory — dozens of small
    // independent copies. Serial FileUtil.copy left the copy latency on
    // the lifecycle queries' critical path (OPTIMIZATION r15: the reps
    // are driver/latency-bound, not bandwidth-bound); copy entries
    // concurrently instead. FileUtil.copy streams are per-call state,
    // so concurrent calls on disjoint entries are safe.
    java.util.Arrays.stream(fs.listStatus(sp)).parallel().forEach { st =>
      FileUtil.copy(fs, st.getPath, fs,
        new Path(new Path(dst), st.getPath.getName), false, conf)
      ()
    }
  }
}
