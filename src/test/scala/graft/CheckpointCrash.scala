package graft

/** Crash simulation for the streaming specs: drop the newest
  * `commits/<id>` from a checkpoint, so the next run replays the
  * batch whose sink output is already on disk, exactly the on-disk
  * state after a crash between the sink write and the commit-log
  * write. */
trait CheckpointCrash extends org.scalatest.Assertions {

  /** Delete the newest checkpoint commit and return its batch id. */
  def dropNewestCommit(ckpt: String): Long = {
    val commits = new java.io.File(s"$ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong)
    assert(commits.nonEmpty, "no committed batches to drop")
    val newest = commits.last
    val id = newest.getName.toLong
    assert(newest.delete(), s"could not delete $newest")
    // the local-FS checksum sidecar must go too, or the replay's
    // commit rename fails on the stale .crc
    val crc = new java.io.File(s"$ckpt/commits/.$id.crc")
    if (crc.exists()) crc.delete()
    id
  }
}
