package graft

import graft.dedup.IndexTxn

/** Arms [[IndexTxn.testCrashHook]] for the commit-protocol specs. */
object CrashPoints {

  /** Run `hook` when a batch passes `p`; every other point is a no-op. */
  def arm(p: IndexTxn.Point)(hook: () => Unit): Unit =
    IndexTxn.testCrashHook = q => if (q == p) hook()

  def disarm(): Unit = IndexTxn.testCrashHook = IndexTxn.NoCrash
}
