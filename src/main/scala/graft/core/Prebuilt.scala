package graft.core

import java.io.File
import java.nio.file.{DirectoryNotEmptyException, FileAlreadyExistsException,
  Files, StandardCopyOption}

/**
 * Build-once on-disk state under the JVM temp dir for catalog queries that
 * serve a persisted artifact (the prebuilt search index, the CF
 * maintenance state): the first call pays fit+save, later calls — the
 * bench's timed passes, Verify — load it.
 *
 * The directory is keyed on the source file's (path, size, mtime), the
 * caller's parameters AND a code token of the fitting classes, so neither
 * a regenerated input nor a rebuilt fitting code path is ever served state
 * fitted from the old one. Each build writes a private temp sibling and
 * renames it into place atomically, so a reader never sees a half-written
 * directory and a crashed build leaves nothing behind that looks done.
 * The name splits the key in two, `graft_<name>_<h(path, parts)>_<h(size,
 * mtime, token)>`: a new build deletes the other versions under its
 * (name, path, parts) prefix, so stale state does not pile up.
 */
private[graft] object Prebuilt {

  /** Hex digest of the named classes' bytecode: changes whenever the code
    * that fits the state is rebuilt differently. */
  def codeToken(classes: Class[_]*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    classes.foreach { c =>
      md.update(c.getName.getBytes("UTF-8"))
      val in = c.getResourceAsStream("/" + c.getName.replace('.', '/') + ".class")
      require(in != null, s"no bytecode resource for ${c.getName}")
      try md.update(in.readAllBytes()) finally in.close()
    }
    hex(md.digest())
  }

  /** The state directory `graft_<name>_<h(path, parts)>_<h(size, mtime,
    * token)>`; runs `build(path)` into a temp sibling and renames it into
    * place when the directory does not exist yet, then deletes the other
    * versions under the same prefix. Returns the directory's path. */
  def dir(name: String, source: File, token: String, parts: Any*)(
      build: String => Unit): String = {
    val prefix = s"graft_${name}_${h(source.getAbsolutePath +: parts)}_"
    val target = new File(sys.props("java.io.tmpdir"),
      prefix + h(Seq(source.length(), source.lastModified(), token))).toPath
    if (!Files.isDirectory(target)) {
      val tmp = Files.createTempDirectory(target.getParent,
        target.getFileName.toString + ".tmp-")
      try {
        build(tmp.toString)
        Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE)
        // drop stale versions; a file that will not delete (an open
        // reader, say) is left for the next build to retry
        Option(target.getParent.toFile.listFiles()).foreach(_.foreach { f =>
          val n = f.getName
          if (n.startsWith(prefix) && !n.contains(".tmp-") &&
              n != target.getFileName.toString) deleteTree(f)
        })
      } catch {
        // a concurrent build won the rename: serve its copy
        case _: FileAlreadyExistsException | _: DirectoryNotEmptyException
            if Files.isDirectory(target) => deleteTree(tmp.toFile)
        case e: Throwable => deleteTree(tmp.toFile); throw e
      }
    }
    target.toString
  }

  /** 16 hex digits of the SHA-256 of `parts`, NUL-joined. */
  private def h(parts: Seq[Any]): String = hex(java.security.MessageDigest
    .getInstance("SHA-256").digest(parts.mkString("\u0000").getBytes("UTF-8")))
    .take(16)

  private def hex(bytes: Array[Byte]): String = bytes.map("%02x".format(_)).mkString

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
