package graft.operators

import java.io.File

/** Scratch dirs under `java.io.tmpdir` (fixture lakes, per-gate index
  * dirs, the index memo, qp11's ingest runs), named
  * `<prefix><pid>_<suffix>` so a sweep can tell whose they are.
  *
  * A JVM's first dir of a prefix reclaims the dirs of that prefix whose
  * owning process has exited. Everything else stays: this JVM's own dirs
  * may still back a plan it has built but not yet run, and a live sibling
  * JVM's dirs are that JVM's to reclaim. A pid-less dir (the naming
  * before the tag) has no owner to check and is left alone.
  */
private[graft] object TmpDirs {
  private val pid = ProcessHandle.current().pid()
  private val swept = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** This JVM's dir `<prefix><pid>_<suffix>`; not created. */
  def dir(prefix: String, suffix: Any): File = {
    if (swept.add(prefix)) sweepDead(prefix)
    new File(sys.props("java.io.tmpdir"), s"$prefix${pid}_$suffix")
  }

  /** Remove every `<prefix><pid>_…` dir whose pid is neither this JVM's
    * nor a live process's. */
  def sweepDead(prefix: String): Unit =
    Option(new File(sys.props("java.io.tmpdir")).listFiles).getOrElse(Array.empty)
      .filter(_.getName.startsWith(prefix))
      .foreach { f =>
        val rest = f.getName.stripPrefix(prefix)
        val owner = if (rest.contains('_')) rest.takeWhile(_ != '_').toLongOption else None
        owner.foreach { o =>
          if (o != pid && !ProcessHandle.of(o).map[Boolean](_.isAlive).orElse(false)) rmTree(f)
        }
      }

  def rmTree(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(rmTree)
    f.delete(): Unit
  }

  def copyTree(src: File, dst: File): Unit =
    if (src.isDirectory) {
      dst.mkdirs(): Unit
      Option(src.listFiles).getOrElse(Array.empty).foreach(f => copyTree(f, new File(dst, f.getName)))
    } else java.nio.file.Files.copy(src.toPath, dst.toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
}
