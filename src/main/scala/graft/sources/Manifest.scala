package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path

/** The ONE provenance-manifest reader/writer for every staged-at-ingest
  * product (round 19, VERDICT r18 #3): the shingle basis sidecar, the
  * embedding signature sidecar, the delta lifecycles' frozen plan, and
  * the staged IVF serving index all fence on the same discipline —
  * a flat JSON object of identity keys written next to the staged table,
  * re-derived and compared at dispatch time, any mismatch degrading to
  * recompute (slower, never wrong). Before this round each family carried
  * its own format (two hand-rolled substring-matched JSON sidecars plus a
  * one-row parquet plan table); one code path means one fence semantics
  * and one place to audit it.
  *
  * Format: a single-line flat JSON object — string and integer values
  * only, keys in the writer's insertion order. The reader is a strict
  * parser for exactly the shape this writer emits (quoted keys, string
  * values with `\\`/`\"` escapes, bare integer values); anything else
  * returns None, which every caller treats as "fence failed → recompute".
  * Hadoop FileSystem API throughout — staging dirs live in whatever
  * object store / DFS the session talks to, never assumed local.
  */
object Manifest {

  /** Write `fields` (String or integral values) as `dir/name`, overwriting.
    * Values must be String, Int, or Long — the only types a provenance
    * fence compares; anything else is a caller bug, failed fast.
    */
  def write(conf: Configuration, dir: String, name: String,
      fields: Seq[(String, Any)]): Unit = {
    val body = fields.map { case (k, v) =>
      s""""${escape(k)}":${valueJson(v)}"""
    }.mkString("{", ",", "}")
    val fs = new Path(dir).getFileSystem(conf)
    val out = fs.create(new Path(dir, name), true)
    try out.write(body.getBytes("UTF-8"))
    finally out.close()
  }

  /** Read `dir/name` back as key → canonical value string (integers keep
    * their literal text, which is exactly what [[lookup]] compares).
    * None on a missing file, IO failure, or any parse deviation.
    */
  def read(conf: Configuration, dir: String, name: String): Option[Map[String, String]] =
    try {
      val fs = new Path(dir).getFileSystem(conf)
      val p = new Path(dir, name)
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        val body =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString
          finally in.close()
        parse(body)
      }
    } catch { case _: Exception => None }

  /** The one staged-product fence: `dir/name` serves iff every table in
    * `tables` committed (`_SUCCESS`), the manifest parses, every required
    * (key, value) matches its canonical string form and every `served`
    * key is present. Returns the manifest, whose served values the caller
    * reads. Extra manifest keys are ignored — a fence names what it NEEDS
    * to hold. An empty required value never matches: it is the
    * fingerprint of a corpus with no file lineage, whose identity cannot
    * be proven. `required` is by-name, so a failure deriving the fence
    * identity counts as an IO failure: any mismatch or IO failure
    * returns None, and the caller recomputes (slower, never wrong).
    */
  def lookup(conf: Configuration, dir: String, name: String,
      tables: Seq[String], required: => Seq[(String, Any)],
      served: Seq[String] = Nil): Option[Map[String, String]] =
    try {
      val fs = new Path(dir).getFileSystem(conf)
      if (!tables.forall(t => fs.exists(new Path(t, "_SUCCESS")))) None
      else {
        val m = read(conf, dir, name).filter(m =>
          required.forall { case (k, v) =>
            m.get(k).exists(got => got.nonEmpty && got == canonical(v))
          } && served.forall(m.contains))
        if (m.isEmpty)
          System.err.println(s"[graft] staged $dir/$name is missing or does not " +
            "match the requested corpus or parameters - recomputing")
        m
      }
    } catch {
      case e: Exception =>
        System.err.println(s"[graft] staged $dir/$name lookup failed ($e) - recomputing")
        None
    }

  private def canonical(v: Any): String = v match {
    case s: String => s
    case i: Int => i.toString
    case l: Long => l.toString
    case other => throw new IllegalArgumentException(
      s"manifest values must be String/Int/Long, got ${other.getClass}")
  }

  private def valueJson(v: Any): String = v match {
    case s: String => s""""${escape(s)}""""
    case _: Int | _: Long => canonical(v)
    case other => throw new IllegalArgumentException(
      s"manifest values must be String/Int/Long, got ${other.getClass}")
  }

  private def escape(s: String): String =
    s.flatMap {
      case '\\' => "\\\\"
      case '"' => "\\\""
      case '\n' => "\\n"
      case c => c.toString
    }

  /** Strict parser for the single flat object [[write]] emits. */
  private[sources] def parse(body: String): Option[Map[String, String]] = {
    var i = 0
    val n = body.length
    def ws(): Unit = while (i < n && body(i).isWhitespace) i += 1
    def fail[T]: Option[T] = None
    def string(): Option[String] = {
      if (i >= n || body(i) != '"') return None
      i += 1
      val sb = new StringBuilder
      while (i < n && body(i) != '"') {
        if (body(i) == '\\' && i + 1 < n) {
          body(i + 1) match {
            case '\\' => sb += '\\'
            case '"' => sb += '"'
            case 'n' => sb += '\n'
            case _ => return None
          }
          i += 2
        } else { sb += body(i); i += 1 }
      }
      if (i >= n) return None
      i += 1 // closing quote
      Some(sb.toString)
    }
    def intLiteral(): Option[String] = {
      val start = i
      if (i < n && body(i) == '-') i += 1
      while (i < n && body(i).isDigit) i += 1
      if (i == start || (i == start + 1 && body(start) == '-')) None
      else Some(body.substring(start, i))
    }
    ws()
    if (i >= n || body(i) != '{') return fail
    i += 1
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    ws()
    if (i < n && body(i) == '}') { i += 1; ws(); return if (i == n) Some(out.toMap) else fail }
    var done = false
    while (!done) {
      ws()
      val k = string().getOrElse(return fail)
      ws()
      if (i >= n || body(i) != ':') return fail
      i += 1
      ws()
      val v =
        if (i < n && body(i) == '"') string().getOrElse(return fail)
        else intLiteral().getOrElse(return fail)
      out(k) = v
      ws()
      if (i < n && body(i) == ',') i += 1
      else if (i < n && body(i) == '}') { i += 1; done = true }
      else return fail
    }
    ws()
    if (i == n) Some(out.toMap) else fail
  }
}
