package graft

import java.nio.file.Files

import org.apache.spark.sql.functions.{assert_true, lit}

/** A user's custom mapper/reducer pair, exactly as someone outside the
  * engine would write them: plain classes implementing the two traits,
  * submitted to the CLI by fully-qualified name. */
class TestVowelCountMapper extends api.TextMapper {
  def map(record: String): IterableOnce[(String, String)] =
    record.toLowerCase(java.util.Locale.ROOT)
      .filter("aeiou".contains(_))
      .map(v => (v.toString, "1"))
}

class TestSumReducer extends api.TextReducer {
  def reduce(key: String, values: Iterator[String]): String =
    values.map(_.toLong).sum.toString
}

class MainSpec extends SparkSpec {

  test("CLI custom job: user mapper/reducer classes submitted by FQCN end-to-end") {
    withTempDir("cli_custom_in") { inDir =>
      val in = java.nio.file.Paths.get(inDir)
      Files.writeString(in.resolve("a.txt"), "Education\nqueue\n")
      withTempDir("cli_custom_out") { out =>
        Main.main(Array(
          "--input", in.toString, "--output", out, "--r", "2",
          "--query", "custom",
          "--mapper-class", "graft.TestVowelCountMapper",
          "--reducer-class", "graft.TestSumReducer",
          "--key", "key", "--value", "value"))
        val back = io.KvText.read(spark, out)
        import spark.implicits._
        val counts = back.select($"key", $"value".cast("long"))
          .as[(String, Long)].collect().toMap
        // education -> e,u,a,i,o ; queue -> u,e,u,e
        assert(counts == Map("a" -> 1L, "e" -> 3L, "i" -> 1L, "o" -> 1L, "u" -> 3L))
      }
    }
  }

  test("CustomJob.run plans exactly one exchange — the reduce shuffle IS the R partitioning") {
    import spark.implicits._
    val lines = Seq("Education", "queue", "banana").toDS()
    val out = api.CustomJob.run(lines, new TestVowelCountMapper, new TestSumReducer, 3)
    out.collect()
    // the AQE string repeats the plan under "== Initial Plan =="
    val plan = out.queryExecution.executedPlan.toString.split("== Initial Plan ==").head
    assert("Exchange".r.findAllIn(plan).length == 1, s"plan:\n$plan")
    assert(out.rdd.getNumPartitions == 3)
  }

  test("CLI wordcount job over a text container writes R out_<j> kv files") {
    withTempDir("cli_in") { inDir =>
      val in = java.nio.file.Paths.get(inDir)
      Files.writeString(in.resolve("a.txt"), "The quick brown fox\nthe lazy dog.\n")
      Files.writeString(in.resolve("b.txt"), "THE end\n")
      withTempDir("cli_out") { out =>
        Main.main(Array(
          "--input", in.toString, "--output", out, "--r", "3", "--query", "wordcount"))
        val files = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("out_"))
        assert(files.sorted.toSeq == Seq("out_0", "out_1", "out_2"))
        val back = io.KvText.read(spark, out)
        import spark.implicits._
        val counts = back.select($"key", $"value".cast("long"))
          .as[(String, Long)].collect().toMap
        assert(counts("the") == 3L)
        assert(counts("fox") == 1L)
      }
    }
  }

  test("CLI expr job: wordcount submitted purely as SQL expression strings") {
    // the reference's "POST map.py/reduce.py at submit time"
    // (`w6/docs/design.md:66-74`) with zero compiled code: the mapper is
    // an ARRAY<STRUCT<key,value>> expression over the input line, the
    // reducer an aggregate over `value` — map.py:9-18 / reduce.py:2-17
    // as two CLI strings
    withTempDir("cli_expr_in") { inDir =>
      val in = java.nio.file.Paths.get(inDir)
      Files.writeString(in.resolve("a.txt"), "The quick brown fox\nthe lazy dog.\n")
      Files.writeString(in.resolve("b.txt"), "THE end\n")
      withTempDir("cli_expr_out") { out =>
        Main.main(Array(
          "--input", in.toString, "--output", out, "--r", "3",
          "--query", "expr",
          "--mapper-expr",
          "transform(filter(split(regexp_replace(lower(value), '[\\\\p{Punct}]', ' '), ' '), w -> w != ''), w -> struct(w AS key, 1L AS value))",
          "--reducer-expr", "sum(value)",
          "--key", "key", "--value", "value"))
        val files = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("out_"))
        assert(files.sorted.toSeq == Seq("out_0", "out_1", "out_2"))
        val back = io.KvText.read(spark, out)
        import spark.implicits._
        val counts = back.select($"key", $"value".cast("long"))
          .as[(String, Long)].collect().toMap
        assert(counts == Map("the" -> 3L, "quick" -> 1L, "brown" -> 1L, "fox" -> 1L,
          "lazy" -> 1L, "dog" -> 1L, "end" -> 1L))
      }
    }
  }

  test("CLI expr job without a reducer is map-only: raw kv pairs out") {
    withTempDir("cli_exprm_in") { inDir =>
      val in = java.nio.file.Paths.get(inDir)
      Files.writeString(in.resolve("a.txt"), "ab\ncd\n")
      withTempDir("cli_exprm_out") { out =>
        Main.main(Array(
          "--input", in.toString, "--output", out, "--r", "2",
          "--query", "expr",
          "--mapper-expr", "array(struct(value AS key, length(value) AS value))",
          "--key", "key", "--value", "value"))
        val back = io.KvText.read(spark, out)
        import spark.implicits._
        val rows = back.select($"key", $"value".cast("long")).as[(String, Long)].collect().toMap
        assert(rows == Map("ab" -> 2L, "cd" -> 2L))
      }
    }
  }

  test("CLI py job: the reference's two-.py submission runs unmodified via the pipe shim") {
    // the literal `w6/docs/design.md:66-74` contract: a mapper .py with
    // mapfunc(in_file) -> dict and a reducer .py with
    // reducefunc(in_file) -> dict, no engine code, no SQL
    withTempDir("cli_py_in") { inDir =>
      val in = java.nio.file.Paths.get(inDir)
      Files.writeString(in.resolve("a.txt"), "The quick brown fox\nthe lazy dog.\n")
      Files.writeString(in.resolve("b.txt"), "THE end\n")
      val (mapPy, redPy) = Queries.wordcountScripts()
      withTempDir("cli_py_out") { out =>
        Main.main(Array(
          "--input", in.toString, "--output", out, "--r", "3",
          "--query", "py",
          "--mapper-py", mapPy, "--reducer-py", redPy,
          "--key", "key", "--value", "value"))
        val files = new java.io.File(out).listFiles().map(_.getName).filter(_.startsWith("out_"))
        assert(files.sorted.toSeq == Seq("out_0", "out_1", "out_2"))
        val back = io.KvText.read(spark, out)
        import spark.implicits._
        val counts = back.select($"key", $"value".cast("long"))
          .as[(String, Long)].collect().toMap
        assert(counts == Map("the" -> 3L, "quick" -> 1L, "brown" -> 1L, "fox" -> 1L,
          "lazy" -> 1L, "dog" -> 1L, "end" -> 1L))
      }
    }
  }

  test("PyJob keys may contain colons: last-colon split round-trips") {
    import spark.implicits._
    withTempDir("py_colon") { dDir =>
      val d = java.nio.file.Paths.get(dDir)
      // identity mapper emitting 'a:b' -> n keys: the wire format splits
      // on the LAST colon (reduce.py:9 rsplit), which PyJob must mirror
      Files.writeString(d.resolve("m.py"),
        """def mapfunc(p):
          |    out = {}
          |    with open(p) as f:
          |        for line in f:
          |            w = line.strip()
          |            if w:
          |                out[w + ":x"] = len(w)
          |    return out
          |""".stripMargin)
      val lines = Seq("ab", "cde").toDS()
      val rows = api.PyJob.run(lines, d.resolve("m.py").toString, None, 2)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(rows == Map("ab:x" -> "2", "cde:x" -> "3"))
    }
  }

  test("PyJob colon keys survive the FULL map+reduce wire round trip (rsplit contract)") {
    import spark.implicits._
    withTempDir("py_colon_mr") { dDir =>
      val d = java.nio.file.Paths.get(dDir)
      // keys like 'a:b' traverse the wire TWICE in the reduce form (map
      // stdout → repartition → reduce stdin → reduce stdout); the
      // reference's reduce.py:9 rsplit(':') contract must hold at every
      // hop, not just the map-only read-back
      Files.writeString(d.resolve("m.py"),
        """def mapfunc(p):
          |    out = {}
          |    with open(p) as f:
          |        for line in f:
          |            w = line.strip()
          |            if w:
          |                out[w + ":x"] = out.get(w + ":x", 0) + 1
          |    return out
          |""".stripMargin)
      Files.writeString(d.resolve("r.py"),
        """def reducefunc(p):
          |    out = {}
          |    with open(p) as f:
          |        for line in f:
          |            k, _, v = line.rstrip("\n").rpartition(":")
          |            if k:
          |                out[k] = out.get(k, 0) + int(v)
          |    return out
          |""".stripMargin)
      val lines = Seq("a:b", "cd", "a:b", "a:b", "cd").toDS().repartition(3)
      val rows = api.PyJob.run(lines, d.resolve("m.py").toString,
          Some(d.resolve("r.py").toString), r = 2)
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(rows == Map("a:b:x" -> "3", "cd:x" -> "2"))
    }
  }

  test("PyJob rejects wire-breaking UDF output loudly (colon in value, newline in key)") {
    import spark.implicits._
    withTempDir("py_badwire") { dDir =>
      val d = java.nio.file.Paths.get(dDir)
      // a value containing ':' would shift the key boundary on read-back
      // (silent corruption); the shim must fail the task instead
      Files.writeString(d.resolve("colon_val.py"),
        """def mapfunc(p):
          |    return {"k": "a:b"}
          |""".stripMargin)
      def chainMsg(t: Throwable): String =
        Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
          .map(c => s"${c.getClass.getName}: ${c.getMessage}").mkString("\n")
      val e1 = intercept[Exception] {
        api.PyJob.run(Seq("x").toDS(), d.resolve("colon_val.py").toString, None, 1)
          .collect()
      }
      assert(chainMsg(e1).contains("Subprocess exited"), chainMsg(e1))
      // a newline in a key would split one pair into two wire lines
      Files.writeString(d.resolve("nl_key.py"),
        """def mapfunc(p):
          |    return {"k\nq": 1}
          |""".stripMargin)
      val e2 = intercept[Exception] {
        api.PyJob.run(Seq("x").toDS(), d.resolve("nl_key.py").toString, None, 1)
          .collect()
      }
      assert(chainMsg(e2).contains("Subprocess exited"), chainMsg(e2))
    }
  }

  test("PyJob m override pins the mapfunc invocation count exactly") {
    import spark.implicits._
    withTempDir("py_mctl") { dDir =>
      val d = java.nio.file.Paths.get(dDir)
      // one marker pair per invocation: key = first input line (distinct
      // per shard under round-robin of distinct lines), value = shard
      // line count — so the row count IS the map task count and the
      // value sum proves every line reached exactly one shard
      Files.writeString(d.resolve("m.py"),
        """def mapfunc(p):
          |    with open(p) as f:
          |        lines = [l.strip() for l in f if l.strip()]
          |    if not lines:
          |        return {}
          |    return {"shard_" + lines[0]: len(lines)}
          |""".stripMargin)
      val lines = (0 until 24).map(i => f"L$i%02d").toDS()
      for (m <- Seq(1, 4, 8)) {
        val rows = api.PyJob.run(lines, d.resolve("m.py").toString, None, r = 2, m = m)
          .collect().map(r => r.getString(0) -> r.getString(1).toInt)
        assert(rows.length == m, s"m=$m produced ${rows.length} map invocations")
        assert(rows.map(_._2).sum == 24, s"m=$m lost or duplicated lines")
      }
    }
  }

  test("CLI sql job runs arbitrary SQL with custom functions over the tables") {
    withTempDir("cli_sql_out") { out =>
      Main.main(Array(
        "--input", sf, "--output", out, "--r", "2",
        "--query", "sql",
        "--sql", "SELECT n_name AS key, qdot(array(CAST(0.5 AS FLOAT)), array(CAST(2.0 AS FLOAT))) AS value FROM nation ORDER BY n_name",
        "--key", "key", "--value", "value"))
      val back = io.KvText.read(spark, out)
      import spark.implicits._
      val rows = back.select($"key", $"value".cast("long")).as[(String, Long)].collect().toMap
      assert(rows.size == 25)
      assert(rows.values.forall(_ == 1000000L)) // 500 * 2000
    }
  }

  test("Verify.dump: a throwing query leaves an EMPTY dump dir, never a stale one") {
    import spark.implicits._
    withTempDir("verify_out") { outDir =>
      val out = java.nio.file.Paths.get(outDir)
      val dir = out.resolve("q_throws").toString
      // an earlier run's dump of the same query, which check.py would pass
      assert(Verify.dump(dir, "q_throws")(Seq(1L, 2L).toDF("x")))
      assert(new java.io.File(dir).listFiles().exists(_.getName.endsWith(".parquet")))
      val ok = Verify.dump(dir, "q_throws")(
        Seq(1L).toDF("x").select(assert_true(lit(false))))
      assert(!ok)
      val left = new java.io.File(dir).listFiles()
      assert(left != null, "the failed query's dump dir must exist for check.py to see it")
      assert(left.isEmpty, s"stale output survived a failed query: ${left.map(_.getName).toSeq}")
      // a query that throws while it is being built, not run
      val dir2 = out.resolve("q_build_throws").toString
      assert(!Verify.dump(dir2, "q_build_throws")(sys.error("boom")))
      assert(new java.io.File(dir2).listFiles().isEmpty)
    }
  }

  test("Bench.maskPlan: the same queries built twice in one session mask to identical plans") {
    val names = Seq("search_index_bm25", "privacy_purge_text", "ann_index_probe", "graph_triangles")
    val raw = names.map { name =>
      def plan() = SparkEntry.queries(name)(spark, sf).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      val (a, b) = (plan(), plan())
      assert(Bench.maskPlan(a) == Bench.maskPlan(b), name)
      (a, b)
    }
    // each mask has something to do
    val all = raw.map { case (a, b) => a + b }.mkString
    for (re <- Seq("""#\d+""", """\[plan_id=\d+\]""", """RDD\[\d+\] at \w+ at \w+\.scala:\d+""",
        """/txtidx\d{8,}"""))
      assert(re.r.findFirstIn(all).nonEmpty, re)
    assert(raw.exists { case (a, b) => a != b })
  }

  test("GraftSession.scrub releases the localCheckpoint RDDs a distributed graph query pins") {
    withLocalMax(0) {
      SparkEntry.queries("graph_kcore")(spark, sf).write.format("noop").mode("overwrite").save()
    }
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty, "the distributed k-core pins no RDD")
    GraftSession.scrub(spark)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty)
  }

  test("the env table in the verify skill names exactly the env vars the code reads") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val read = """sys\.env\.\w+\("(\w+)"""".r
    val walk = Files.walk(root)
    val sources = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
    val inCode = (java.nio.file.Paths.get("build.sbt") :: sources)
      .flatMap(p => read.findAllMatchIn(Files.readString(p)).map(_.group(1))).toSet
    val skill = Files.readAllLines(java.nio.file.Paths.get(".claude/skills/verify/SKILL.md")).asScala
    val inTable = skill.dropWhile(_ != "## Environment variables of the mains")
      .drop(1).takeWhile(!_.startsWith("## "))
      .collect { case l if l.startsWith("| `") => l.stripPrefix("| `").takeWhile(_ != '`') }.toSet
    assert(inCode.nonEmpty)
    assert(inTable == inCode,
      s"read but not documented: ${inCode -- inTable}; documented but not read: ${inTable -- inCode}")
  }

  test("every main builds its session through GraftSession (no other SparkSession.builder)") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    def isCode(line: String): Boolean =
      !Seq("//", "/*", "*").exists(line.trim.startsWith)
    val walk = Files.walk(root)
    val offenders = try walk.iterator.asScala
      .filter(p => p.toString.endsWith(".scala") &&
        p.getFileName.toString != "GraftSession.scala")
      .flatMap { p =>
        Files.readAllLines(p).asScala.zipWithIndex.collect {
          case (line, i) if isCode(line) && line.contains("SparkSession.builder") =>
            s"$p:${i + 1}"
        }
      }.toList
    finally walk.close()
    assert(offenders.isEmpty,
      s"build sessions with GraftSession.local, not by hand: ${offenders.mkString(", ")}")
  }

  test("the index operators read their relations through Sinks.readParquet (no bare read.parquet)") {
    import scala.jdk.CollectionConverters._
    val offenders = Seq("Search.scala", "Similarity.scala").flatMap { f =>
      val p = java.nio.file.Paths.get("src/main/scala/graft/ext", f)
      assert(Files.isRegularFile(p), s"run from the repo root: ${p.toAbsolutePath}")
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if !Seq("//", "/*", "*").exists(line.trim.startsWith) &&
            line.contains("read.parquet(") => s"$p:${i + 1}"
      }
    }
    assert(offenders.isEmpty,
      s"read engine-written relations with Sinks.readParquet (no inference job): ${offenders.mkString(", ")}")
  }

  test("only the journaled swap renames over live data (besides the part-file renames)") {
    import scala.jdk.CollectionConverters._
    // (file, enclosing def) of every `.rename(` allowed in src/main/scala:
    // the swap's move and recovery, and the renames of fresh part files
    // inside a directory the writer just made
    val allowed = Set("Sinks.scala" -> "moveOne", "Sinks.scala" -> "recover",
      "Sinks.scala" -> "writePartitioned", "KvText.scala" -> "write")
    val defName = """\s*(?:(?:private|protected)\S*\s+|override\s+|final\s+)*def\s+(\w+).*""".r
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root: ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val sites = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).flatMap { p =>
      val lines = Files.readAllLines(p).asScala.toSeq
      lines.zipWithIndex.collect {
        case (line, i) if !Seq("//", "/*", "*").exists(line.trim.startsWith) &&
            line.contains(".rename(") =>
          val owner = lines.take(i + 1).reverseIterator.collectFirst { case defName(n) => n }
          (p.getFileName.toString -> owner.getOrElse(""), s"$p:${i + 1}")
      }
    }.toList
    finally walk.close()
    assert(sites.map(_._1).toSet == allowed, s"rename sites: ${sites.mkString(", ")}")
  }
}
