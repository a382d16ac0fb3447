package graft.io

import java.nio.file.{Files, LinkOption, Path, Paths, StandardCopyOption}

/** Local-filesystem helpers: the staged swap of the sinks that rewrite
  * a dataset in place, and the one recursive delete. */
object LocalFs {

  /** Delete `p` and everything under it; a missing path (or an entry
    * that vanishes mid-walk) is a no-op. Symlinks are removed as links,
    * never followed, and the walk's directory handles are closed. */
  def deleteTree(p: Path): Unit =
    if (Files.exists(p, LinkOption.NOFOLLOW_LINKS)) {
      val walk = Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(q => Files.deleteIfExists(q): Unit)
      finally walk.close()
    }

  /** Undo a [[swapIn]] that died between its two moves: `target` is
    * missing while `<target>_old` holds the previous dataset, so move it
    * back. A sink calls this before it reads `target`; otherwise it
    * would merge into an empty table and the swap would delete the
    * only copy. */
  def recoverSwap(target: String): Unit = {
    val live = Paths.get(target)
    val old = Paths.get(target + "_old")
    if (!Files.exists(live) && Files.exists(old))
      Files.move(old, live, StandardCopyOption.ATOMIC_MOVE)
  }

  /** Replace the dataset at `target` (if any) with the one written at
    * `staging`: clear a stale `<target>_old` left by a crashed run, move
    * the live target aside to `_old`, move staging in, then delete
    * `_old`. Every move is a rename that throws on failure, so a swap
    * that did not happen never returns normally. */
  def swapIn(staging: String, target: String): Unit = {
    val live = Paths.get(target)
    val old = Paths.get(target + "_old")
    deleteTree(old)
    if (Files.exists(live))
      Files.move(live, old, StandardCopyOption.ATOMIC_MOVE)
    Files.move(Paths.get(staging), live, StandardCopyOption.ATOMIC_MOVE)
    deleteTree(old)
  }
}
