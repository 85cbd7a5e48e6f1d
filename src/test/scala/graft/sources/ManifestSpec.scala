package graft.sources

import graft.SparkSuite
import org.apache.hadoop.conf.Configuration

/** The consolidated provenance manifest (round 19, VERDICT r18 #3): one
  * reader/writer for every staged-product sidecar — shingle basis,
  * embedding signatures, frozen delta plans, the IVF serving index. The
  * fence semantics the staged dispatches rely on live HERE, so the
  * roundtrip, escaping, strictness, and mismatch behavior are pinned
  * once for all families (the family specs then only need to prove
  * their own fence FIELDS are right).
  */
class ManifestSpec extends SparkSuite {

  private val conf = new Configuration()

  test("write/read roundtrip: strings, ints, longs, escapes") {
    withTempDir("manifest-spec") { dirPath =>
      val dir = dirPath.toString
      val fields = Seq[(String, Any)](
        "sfDir" -> """/odd "path"\with\escapes""",
        "tag" -> "hi768",
        "multiline" -> "a\nb",
        "dim" -> 768, "rows" -> 123456789012345L, "neg" -> -3)
      Manifest.write(conf, dir, "m.json", fields)
      val m = Manifest.read(conf, dir, "m.json").get
      assert(m("sfDir") == """/odd "path"\with\escapes""")
      assert(m("tag") == "hi768")
      assert(m("multiline") == "a\nb")
      assert(m("dim") == "768" && m("rows") == "123456789012345" && m("neg") == "-3")
      assert(m.size == fields.size)
    }
  }

  test("matches: all required fields must hold; extra manifest keys are fine") {
    withTempDir("manifest-spec") { dirPath =>
      val dir = dirPath.toString
      Manifest.write(conf, dir, "m.json",
        Seq("corpusFp" -> "abc123", "dim" -> 64, "nprobe" -> 40))
      def matches(required: Seq[(String, Any)]): Boolean =
        Manifest.lookup(conf, dir, "m.json", Nil, required).isDefined
      // A fence naming a subset (served values like nprobe not required).
      assert(matches(Seq("corpusFp" -> "abc123", "dim" -> 64)))
      // Any single mismatched field fails the fence.
      assert(!matches(Seq("corpusFp" -> "abc123", "dim" -> 65)))
      assert(!matches(Seq("corpusFp" -> "OTHER", "dim" -> 64)))
      // A required key absent from the manifest fails too.
      assert(!matches(Seq("corpusFp" -> "abc123", "missingKey" -> 1)))
    }
  }

  test("missing file and malformed bodies read as None (fence → recompute)") {
    withTempDir("manifest-spec") { dirPath =>
      val dir = dirPath.toString
      assert(Manifest.read(conf, dir, "absent.json").isEmpty)
      assert(Manifest.lookup(conf, dir, "absent.json", Nil, Seq("k" -> "v")).isEmpty)
      // Strictness: the reader accepts exactly the writer's shape.
      for (bad <- Seq("", "{", """{"k":}""", """{"k":"v"} trailing""",
          """{"k":"v",}""", """["not","an","object"]""", """{"k":1.5}""",
          """{k:"v"}"""))
        assert(Manifest.parse(bad).isEmpty, s"must reject: $bad")
      // And the empty object is valid (no fields — matches only an empty
      // requirement).
      assert(Manifest.parse("{}").contains(Map.empty[String, String]))
    }
  }

  /** Runs `body` on a staging dir holding two committed tables and a
    * manifest.
    */
  private def withStaged[A](body: (String, Seq[String]) => A): A =
    withTempDir("manifest-spec") { dirPath =>
      val dir = dirPath.toString
      val tables = Seq(s"$dir/a.parquet", s"$dir/b.parquet")
      tables.foreach { t =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(t))
        java.nio.file.Files.createFile(java.nio.file.Paths.get(t, "_SUCCESS"))
      }
      Manifest.write(conf, dir, "m.json",
        Seq("corpusFp" -> "abc123", "dim" -> 64, "nprobe" -> 40))
      body(dir, tables)
    }

  private val fence = Seq[(String, Any)]("corpusFp" -> "abc123", "dim" -> 64)

  test("lookup: committed tables and matching fields return the manifest") {
    withStaged { (dir, tables) =>
      val m = Manifest.lookup(conf, dir, "m.json", tables, fence, Seq("nprobe"))
      assert(m.exists(_("nprobe") == "40"))
    }
  }

  test("lookup: a table without _SUCCESS is refused") {
    withStaged { (dir, tables) =>
      java.nio.file.Files.delete(java.nio.file.Paths.get(tables(1), "_SUCCESS"))
      assert(Manifest.lookup(conf, dir, "m.json", tables, fence).isEmpty)
      assert(Manifest.lookup(conf, dir, "m.json", tables.take(1), fence).isDefined,
        "the committed table alone still serves")
    }
  }

  test("lookup: one differing field is refused") {
    withStaged { (dir, tables) =>
      assert(Manifest.lookup(conf, dir, "m.json", tables,
        Seq("corpusFp" -> "abc123", "dim" -> 768)).isEmpty)
    }
  }

  test("lookup: an empty required value never matches") {
    withTempDir("manifest-spec") { dirPath =>
      val dir = dirPath.toString
      Manifest.write(conf, dir, "m.json", Seq("corpusFp" -> ""))
      assert(Manifest.lookup(conf, dir, "m.json", Nil, Seq("corpusFp" -> "")).isEmpty,
        "a corpus with no file lineage has no provable identity")
    }
  }

  test("lookup: an unparsable manifest is refused") {
    withStaged { (dir, tables) =>
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, "m.json"),
        "{\"corpusFp\":\"abc123\",".getBytes("UTF-8"))
      assert(Manifest.lookup(conf, dir, "m.json", tables, fence).isEmpty)
    }
  }

  test("lookup: a missing served key is refused") {
    withStaged { (dir, tables) =>
      assert(Manifest.lookup(conf, dir, "m.json", tables, fence,
        Seq("nprobe", "shortK")).isEmpty)
    }
  }

  test("lookup: a throwing file system or identity derivation is refused") {
    withStaged { (dir, tables) =>
      assert(Manifest.lookup(conf, "nosuchfs://host/staging", "m.json",
        Seq("nosuchfs://host/staging/a.parquet"), fence).isEmpty)
      assert(Manifest.lookup(conf, dir, "m.json", tables,
        throw new java.io.IOException("corpus listing failed")).isEmpty)
    }
  }
}
