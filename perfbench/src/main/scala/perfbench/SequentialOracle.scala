package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Sequential reference for the word-count and inverted-index outputs, after
  * the reference framework's `main/mrsequential.go`: read every input file,
  * run the map function, group the intermediate pairs by key, reduce each
  * group, and print `key value` lines in key order. Tokenizing is a plain
  * code-point loop over `Character.isLetter` (Go's `unicode.IsLetter`),
  * independent of the regex the engine uses.
  */
object SequentialOracle {

  def tokens(text: String): Iterator[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i < text.length) {
      val cp = text.codePointAt(i)
      if (Character.isLetter(cp)) sb.appendCodePoint(cp)
      else if (sb.length > 0) { out += sb.toString; sb.setLength(0) }
      i += Character.charCount(cp)
    }
    if (sb.length > 0) out += sb.toString
    out.iterator
  }

  /** `(file name, contents)` in name order. */
  def readFiles(files: Seq[Path]): Seq[(String, String)] =
    files.sortBy(_.getFileName.toString).map { p =>
      (p.getFileName.toString, new String(Files.readAllBytes(p), StandardCharsets.UTF_8))
    }

  private def sequential(inputs: Seq[(String, String)],
                         mapf: (String, String) => Iterator[(String, String)],
                         reducef: (String, Seq[String]) => String): Seq[String] =
    inputs.flatMap { case (name, contents) => mapf(name, contents) }
      .groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (k, kvs) => s"$k ${reducef(k, kvs.map(_._2))}" }

  /** wc: one `(word, "1")` per occurrence; the value is the occurrence count. */
  def wordCount(inputs: Seq[(String, String)]): Seq[String] =
    sequential(inputs, (_, c) => tokens(c).map(w => (w, "1")), (_, vs) => vs.size.toString)

  /** indexer: `(word, file)` per distinct word of a file; the value is
    * `"<n> <file1,file2,...>"` with the files sorted. */
  def invertedIndex(inputs: Seq[(String, String)]): Seq[String] =
    sequential(inputs, (doc, c) => tokens(c).distinct.map(w => (w, doc)),
      (_, docs) => s"${docs.size} ${docs.sorted.mkString(",")}")

  /** The same two queries over documents (one per line, ids in file order),
    * as the native `TextQueries` compute them: word → count, and
    * word → (document frequency, ascending doc ids joined by ","). */
  def documentQueries(inputs: Seq[(String, String)]): (Map[String, Long], Map[String, (Long, String)]) = {
    val counts = mutable.HashMap.empty[String, Long]
    val postings = mutable.HashMap.empty[String, mutable.ArrayBuffer[Long]]
    var docId = 0L
    for ((_, contents) <- inputs; line <- contents.split("\n", -1).dropRight(1)) {
      val ws = tokens(line).toSeq
      ws.foreach(w => counts(w) = counts.getOrElse(w, 0L) + 1)
      ws.distinct.foreach(w => postings.getOrElseUpdate(w, mutable.ArrayBuffer.empty) += docId)
      docId += 1
    }
    (counts.toMap, postings.map { case (w, ids) => w -> (ids.size.toLong, ids.mkString(",")) }.toMap)
  }
}
