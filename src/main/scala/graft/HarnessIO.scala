package graft

/** Tiny filesystem helpers shared by the measurement harnesses (Bench,
  * Plans, perfbench) — not part of the library API. One definition each
  * so the live-tail protocol (hardlinked half-feeds, scratch teardown)
  * cannot drift between harnesses.
  */
object HarnessIO {

  /** Recursive delete of a scratch dir (under /dev/shm or tmp). */
  def rm(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
  }

  /** Hardlink one feed partition dir into `work`: zero-copy, and the
    * shared inode keeps the stamped binlog-order mtimes the source's
    * delivery order rides on. */
  def linkInto(work: java.io.File)(dir: java.io.File): Unit = {
    val dst = new java.io.File(work, dir.getName); dst.mkdirs()
    dir.listFiles().foreach { f =>
      java.nio.file.Files.createLink(
        dst.toPath.resolve(f.getName), f.toPath); ()
    }
  }
}
