package graft.dedup

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}
import scala.concurrent.Future

import org.apache.spark.sql.DataFrame

import graft.ops.Exec

/** One staged batch against one [[IndexManifest]] snapshot — the single
  * write path of every index family ([[IndexedDedup]],
  * [[graft.text.Bm25Index]], [[graft.similarity.IvfIndex]] and the
  * cross-family [[graft.curation.CuratedIndexes]]). The protocol is a
  * table format's optimistic commit in miniature (stage files no reader
  * can see, then publish them with one atomic log entry):
  *
  *   1. OPEN ([[IndexTxn.run]]): read the committed snapshot (None for
  *      an index with no commit yet — a fresh standalone IVF root).
  *      [[writes]] is false when the snapshot already includes
  *      `batchSeq`: a committed replay recomputes read-only and stages
  *      nothing.
  *   2. STAGE: every rewrite lands in FRESH generation directories
  *      ([[LinearHashIndex]] `L<l>I<i>G<g>`, IVF `c<cell>G<seq>`) that no
  *      committed snapshot names, so no reader can see them. Independent
  *      stagings write disjoint directories and overlap on the shared
  *      stage pool ([[fork]]); batch-sized frames the families pin
  *      are tracked with [[pinned]]; each family records its new
  *      bucket sets with [[stage]].
  *   3. COMMIT ([[commit]]): ONE manifest rename publishes the
  *      snapshot's buckets overlaid with every staged set, plus
  *      `batchSeq`, compare-and-swapped against the snapshot's version
  *      (0 when there was none) — a zombie writer whose manifest moved
  *      since it staged publishes nothing. Then every staged index is
  *      gc'd against [[IndexManifest.retainedUnion]], so every retained
  *      snapshot stays readable (time travel).
  *   4. EXIT, success or failure: every forked future is quiesced
  *      before anything leaves — a failed batch never leaves a staging
  *      write racing its replay's overwrite of the same directories —
  *      and every pin is released, except frames handed back to the
  *      caller ([[pinnedResult]], the q274 verdicts), which are released
  *      only on failure.
  *
  * Hence: a crash anywhere before the rename leaves every reader of
  * every index in the manifest — the replay included — on the previous
  * consistent snapshot. Staging is deterministic given snapshot + batch,
  * so the replay recomputes the same verdicts and overwrites the same
  * fresh directories; a replay after the rename stages nothing.
  *
  * Crash injection: [[IndexTxn.testCrashHook]] is called with each
  * named [[IndexTxn.Point]] as the batch passes it, on the thread that
  * passes it. Production never sets it. */
final class IndexTxn private (val manifest: IndexManifest,
                              val batchSeq: Long) {
  import IndexTxn.Point

  val snapshot: Option[IndexManifest.State] = manifest.read()

  /** False on a committed replay. */
  val writes: Boolean = snapshot.forall(_.batchSeq < batchSeq)

  private val forks = ArrayBuffer.empty[Future[_]]
  private val pins = ArrayBuffer.empty[DataFrame]
  private val results = ArrayBuffer.empty[DataFrame]
  private val staged =
    LinkedHashMap.empty[String, (Set[String], Set[String] => Unit)]

  /** The snapshot, for families that need one to exist. */
  def snap: IndexManifest.State = snapshot.getOrElse(sys.error(
    s"IndexTxn: no committed manifest at ${manifest.root} — bootstrap first"))

  def point(p: Point): Unit = IndexTxn.testCrashHook(p)

  /** Launch `f` on the shared stage pool; quiesced on exit. */
  def fork[A](f: => A): Future[A] = {
    val fu = Exec.fork(f)
    synchronized(forks += fu)
    fu
  }

  def await[A](fu: Future[A]): A = Exec.await(fu)

  /** Track a frame the batch pinned (`localCheckpoint(true)`, called by
    * the family so the pinning job keeps its call site): released when
    * the batch exits. */
  def pinned(df: DataFrame): DataFrame = {
    synchronized(pins += df)
    df
  }

  /** [[pinned]] for a frame handed to the caller, who releases it;
    * released here only if the batch fails. */
  def pinnedResult(df: DataFrame): DataFrame = {
    synchronized(results += df)
    df
  }

  /** Record index `name`'s staged bucket set and how to gc it. */
  def stage(name: String, dirs: Set[String])(gc: Set[String] => Unit): Unit =
    synchronized {
      require(writes, s"IndexTxn: $name staged on a committed replay")
      staged(name) = (dirs, gc)
    }

  def stage(name: String, ix: LinearHashIndex, dirs: Set[String]): Unit =
    stage(name, dirs)(ix.gc)

  /** THE commit point (no-op when nothing staged): every staged set
    * plus `batchSeq` in one CAS'd rename, then gc. The caller has
    * awaited every staging fork. */
  def commit(): Unit = {
    val st = synchronized(staged.toList)
    if (st.nonEmpty) {
      point(Point.BeforeCommit)
      manifest.commit(batchSeq,
        snapshot.fold(Map.empty[String, Set[String]])(_.buckets)
          ++ st.map { case (n, (dirs, _)) => n -> dirs },
        expectedVersion = Some(snapshot.fold(0L)(_.version)))
      st.foreach { case (n, (_, gc)) => gc(manifest.retainedUnion(n)) }
    }
  }

  private def close(ok: Boolean): Unit = {
    // a fork may launch forks of its own before it completes, so walk
    // the growing list until every one has been quiesced
    var i = 0
    while (i < synchronized(forks.length)) {
      Exec.quiesce(synchronized(forks(i)))
      i += 1
    }
    (if (ok) pins else pins ++ results)
      .foreach(org.apache.spark.sql.graft.Bridge.unpersistLocalCheckpoint)
  }
}

object IndexTxn {

  /** The named crash points, in launch order. A cross-family batch
    * (ingest, takedown) passes, on the calling thread,
    * [[BeforeDedupFamily]] → dedup staging launched →
    * [[BetweenFamilies]] → BM25 staging launched → [[BeforeAnnFamily]]
    * → IVF staged → [[BeforeCommit]]; an ANN rebuild stages the IVF
    * cells, then [[BeforeAnnFamily]] → [[BeforeCommit]]. Inside a
    * family's staging (on whatever thread runs it), `*BetweenWrites`
    * fires with the first rewrite launched and the next not, and
    * `*Staged` once all its rewrites are done. */
  sealed abstract class Point
  object Point {
    case object BeforeDedupFamily extends Point
    case object BetweenFamilies extends Point
    case object BeforeAnnFamily extends Point
    case object DedupBetweenWrites extends Point
    case object DedupStaged extends Point
    case object Bm25BetweenWrites extends Point
    case object Bm25Staged extends Point
    case object BeforeCommit extends Point
  }

  private[graft] val NoCrash: Point => Unit = _ => ()

  @volatile private[graft] var testCrashHook: Point => Unit = NoCrash

  /** Run `body` as one transaction against `manifest`'s committed
    * snapshot; see the class doc for the contract. */
  private[graft] def run[A](manifest: IndexManifest, batchSeq: Long)
                           (body: IndexTxn => A): A = {
    val txn = new IndexTxn(manifest, batchSeq)
    var ok = false
    try {
      val a = body(txn)
      ok = true
      a
    } finally txn.close(ok)
  }
}
