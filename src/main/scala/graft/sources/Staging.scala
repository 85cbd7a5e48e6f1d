package graft.sources

import java.io.File
import java.nio.file.{Files, Path}

import org.apache.spark.sql.DataFrame

/** Staging directories for artifacts derived once per corpus (synthesized
  * media payloads, watermark sentinels). The key is the pair
  * (source path, content fingerprint):
  *
  *   - the PATH component keeps distinct corpora (sf0.001 vs sf0.01) apart;
  *   - the CONTENT component — file names, sizes and mtimes of the source
  *     parquet, no data read — changes whenever the corpus is regenerated
  *     in place, so a `_SUCCESS`-guarded stage can never serve bytes (or a
  *     baked-in max-ts sentinel) derived from a previous generation. A
  *     path-hash key alone had exactly that hazard, plus silent
  *     String.hashCode collisions across corpora.
  *
  * Restaging on a false content change (same bytes, fresh mtime) costs one
  * re-derivation — correct but slower; serving stale data was silently
  * wrong. Superseded stages of the same source are deleted when the new
  * fingerprint is first staged, so /tmp holds at most one generation per
  * (prefix, source).
  *
  * [[scoped]] is the other lifecycle: staging that lives inside one call
  * and is deleted when the call returns.
  */
object Staging {

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Fingerprint of a parquet file-or-directory from filesystem metadata
    * only (name, length, mtime per data file) — no footer read, no job.
    */
  private def contentFingerprint(src: File): String = {
    val files =
      if (src.isDirectory)
        Option(src.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
          .filter(_.isFile).sortBy(_.getName)
      else Seq(src)
    md5hex(files.map(f => s"${f.getName}:${f.length}:${f.lastModified}")
      .mkString("\n"))
  }

  /** The staging directory for `prefix` derived from `srcParquet`. Not
    * created; callers keep their own `_SUCCESS`/`_STAGED` marker protocol.
    * Any sibling stage of the same (prefix, source-path) with a DIFFERENT
    * content fingerprint is deleted here — it is superseded by
    * construction, and leaving it would both accrete /tmp and resurrect
    * the staleness hazard if the corpus flips back to an old mtime.
    */
  def stagedDir(prefix: String, srcParquet: String): File = {
    val src = new File(srcParquet)
    val pathKey = md5hex(src.getAbsolutePath).take(8)
    val contentKey = contentFingerprint(src).take(16)
    val tmp = new File(sys.props("java.io.tmpdir"))
    val name = s"${prefix}_${pathKey}_$contentKey"
    val stale = Option(tmp.listFiles()).getOrElse(Array.empty[File])
      .filter(f => f.isDirectory
        && f.getName.startsWith(s"${prefix}_${pathKey}_")
        && f.getName != name)
    stale.foreach(f => deleteRecursively(f.toPath))
    new File(tmp, name)
  }

  /** Run `body` against a fresh temp directory that lives for this call
    * only. The result is materialized with an eager `localCheckpoint()`
    * BEFORE the directory is deleted, so it no longer reads any file
    * `body` staged there; the directory is deleted whether `body`
    * returns or throws.
    */
  def scoped(prefix: String)(body: String => DataFrame): DataFrame = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir.toString).localCheckpoint()
    finally deleteRecursively(dir)
  }

  /** Delete `root` and everything under it (children first). */
  def deleteRecursively(root: Path): Unit = {
    val ls = Files.walk(root)
    try ls.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
    finally ls.close()
  }
}
