package graft

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.{CsvSource, CsvSpec}

class CsvGatewaySpec extends SparkSpec {
  import spark.implicits._

  private def tempCsv(content: String): String = {
    val f = Files.createTempFile("graft_csv", ".csv")
    Files.writeString(f, content)
    f.toString
  }

  test("header sniffing builds all-text schema with normalized names") {
    val p = tempCsv("First Name,LAST-NAME,Zip\n a , b , c \n")
    val spec = CsvSpec(p, quote = "\"")
    val df = CsvSource.read(spark, spec)
    assert(df.columns.toSeq == Seq("first_name", "last_name", "zip"))
    assert(df.schema.fields.forall(_.dataType.typeName == "string"))
    // the default LATIN1 encoding (É and Ü are one byte each) decodes
    // the same on the repair path and the native reader
    val latin = Files.createTempFile("graft_csv", ".csv")
    Files.write(latin, "name,city\nJOSÉ,MÜNSTER\n".getBytes(StandardCharsets.ISO_8859_1))
    for (dropMalformed <- Seq(true, false)) {
      val ls = CsvSpec(latin.toString, quote = "\"", dropMalformed = dropMalformed)
      assert(CsvSource.read(spark, ls).as[(String, String)].collect().toSeq ==
        Seq(("JOSÉ", "MÜNSTER")), s"dropMalformed = $dropMalformed")
      assert(CsvSource.malformedCount(spark, ls) == 0)
    }
  }

  test("remove expression strips pattern before parsing") {
    // reference use case: strip stray quote chars (csv_file.rb:30-38)
    val p = tempCsv("a,b\n1,x~!y\n2,z\n")
    val df = CsvSource.read(spark,
      CsvSpec(p, quote = "\"", removeExpression = Some("~!")))
    val vals = df.select("b").as[String].collect().toSet
    assert(vals == Set("xy", "z"))
  }

  test("malformed rows (wrong arity) are dropped") {
    val p = tempCsv("a,b\n1,x\n2,y,EXTRA\n3\n4,z\n")
    val df = CsvSource.read(spark, CsvSpec(p, quote = "\""))
    assert(df.select("a").as[String].collect().toSet == Set("1", "4"))
    // and the audit counts them
    assert(CsvSource.malformedCount(spark, CsvSpec(p, quote = "\"")) == 2)
  }

  test("quarantine returns exactly the dropped lines with field counts") {
    val p = tempCsv("a,b\n1,x\n2,y,EXTRA\n3\n4,z\n")
    val spec = CsvSpec(p, quote = "\"")
    val bad = CsvSource.quarantine(spark, spec)
      .as[(String, Int, Int)].collect().sortBy(_._1).toSeq
    assert(bad == Seq(("2,y,EXTRA", 3, 2), ("3", 1, 2)))
    // good + quarantined partition the data lines exactly
    assert(CsvSource.read(spark, spec).count() + bad.size == 4)
    // a clean file quarantines nothing
    val clean = tempCsv("a,b\n1,x\n")
    assert(CsvSource.quarantine(spark, CsvSpec(clean, quote = "\"")).count() == 0)
  }

  test("quarantine of an empty input returns an empty frame, not a crash") {
    val p = tempCsv("")
    val spec = CsvSpec(p, quote = "\"")
    val bad = CsvSource.quarantine(spark, spec)
    assert(bad.count() == 0)
    assert(bad.columns.toSeq == Seq("line", "n_fields", "expected"))
  }

  test("an empty or header-only file reads as an empty frame, not a crash") {
    // empty: no header row, so zero columns and no malformed lines
    val empty = CsvSpec(tempCsv(""), quote = "\"")
    val e = CsvSource.read(spark, empty)
    assert(e.columns.isEmpty && e.count() == 0)
    assert(CsvSource.malformedCount(spark, empty) == 0)
    // the native-reader path agrees
    val plain = empty.copy(dropMalformed = false)
    assert(CsvSource.read(spark, plain).columns.isEmpty)
    assert(CsvSource.malformedCount(spark, plain) == 0)
    // header only: the header's columns, no rows, nothing malformed
    val headerOnly = CsvSpec(tempCsv("a,b\n"), quote = "\"")
    val h = CsvSource.read(spark, headerOnly)
    assert(h.columns.toSeq == Seq("a", "b") && h.count() == 0)
    assert(CsvSource.malformedCount(spark, headerOnly) == 0)
  }

  test("replay re-ingests corrected quarantine lines under the same contract") {
    val p = tempCsv("a,b\n1,x\n2,y,EXTRA\n3\n4,z\n")
    val spec = CsvSpec(p, quote = "\"")
    val bad = CsvSource.quarantine(spark, spec)
      .as[(String, Int, Int)].collect().sortBy(_._1)
    assert(bad.length == 2)
    // operator fixes the lines: strip the extra field, fill the short
    // row — plus one line left broken, which must NOT sneak through
    val corrected = Seq("2,y", "3,fixed", "still,broken,row")
      .toDF("line")
    val replayed = CsvSource.replay(spark, spec, corrected)
    assert(replayed.columns.toSeq == Seq("a", "b"))
    assert(replayed.as[(String, String)].collect().toSet ==
      Set(("2", "y"), ("3", "fixed")))
    // the fused round trip: clean read + corrections in one frame
    val full = CsvSource.readWithReplay(spark, spec, corrected)
    assert(full.count() == 4) // 2 clean + 2 replayed
    assert(full.select("a").as[String].collect().toSet ==
      Set("1", "4", "2", "3"))
  }

  test("quote-aware delimiter handling (reference default quote ^)") {
    val p = tempCsv("a,b\n1,^x,y^\n")
    val df = CsvSource.read(spark, CsvSpec(p)) // default quote ^
    assert(df.select("b").as[String].head() == "x,y")
  }

  test("quote-aware arity check on the repair path") {
    // with repair (removeExpression) active, a quoted delimiter must
    // not count as a field split (csv_driver_csv_file_spec.rb:93-107)
    val p = tempCsv("a,b\nq,^x,y^\nbad,row,3\n")
    val df = CsvSource.read(spark,
      CsvSpec(p, removeExpression = Some("ZZZ")))
    assert(df.count() == 1)
    assert(df.select("b").as[String].head() == "x,y")
  }

  test("csv audit report: counts, key uniqueness, coverage, malformed") {
    val p = tempCsv("id,name,email\n1,a,x@y.co\n2,,\n2,c,z@w.io\nbad,row,x,EXTRA\n")
    val spec = CsvSpec(p, quote = "\"")
    val df = CsvSource.read(spark, spec)
    val rep = graft.operators.CsvAudit.audit(df,
      keys = Seq("id", "email"), columns = Seq("name", "email"),
      malformedCount = CsvSource.malformedCount(spark, spec))
    assert(rep.rowCount == 3)
    assert(rep.malformedCount == 1)
    assert(!rep.keyIsUnique)          // id=2 twice
    // per-key stats like the reference's keys hash (csv_audit.rb:34-37):
    // id has one duplicated value, email (incl. its empty row) none
    assert(rep.keyDuplicates == Map("id" -> 1L, "email" -> 0L))
    assert(rep.coverage == Map("name" -> 2, "email" -> 2))
    // reference text face (csv_audit.rb:78-101): header, row counts,
    // per-key verdicts, 30-char-padded coverage lines — every number
    // mirrors a report field. Each key is judged INDEPENDENTLY
    // (csv_audit.rb:84-92): dup id and unique email in one report.
    val r = rep.render
    assert(r.startsWith("CSV Audit Report\n\nValid rows: 3\nInvalid rows: 1"))
    assert(r.contains("\n\t[id] DUPLICATES (NOT UNIQUE)"))
    assert(r.contains("\n\t[email] UNIQUE KEY"))
    assert(r.contains("\n\tname:".padTo(30, ' ') + " 66.67% (2)\n"))
    assert(r.contains("\n\temail:".padTo(30, ' ') + " 66.67% (2)\n"))
  }

  test("gateway registry, rebinding, sql passthrough, cleanup") {
    Gateway.withSession(spark) { gw =>
      val n1 = gw.freshName()
      val n2 = gw.freshName()
      assert(n1 != n2)
      gw.register("t_reg", Seq((1, "a")).toDF("id", "v"))
      assert(gw.sql("SELECT count(*) AS c FROM t_reg")
        .as[Long].head() == 1L)
      assert(gw.getCount("SELECT count(*) AS c FROM t_reg") == 1L)
      // rebinding = immutable UPDATE-in-place analogue
      gw.register("t_reg", Seq((1, "a"), (2, "b")).toDF("id", "v"))
      assert(gw.getCount("SELECT count(*) FROM t_reg") == 2L)
      assert(gw.tableExists("t_reg"))
    }
    // cleanup dropped the view
    assert(!spark.catalog.tableExists("t_reg"))
  }

  test("jsonl round trip preserves values, drops malformed lines") {
    import graft.sources.{JsonlSource, JsonlSpec}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("t", StringType)))
    // mixed valid/corrupt lines, plus escapes and a null field
    val p = Files.createTempFile("graft_jsonl", ".jsonl")
    Files.writeString(p,
      """{"id": 1, "t": "hello \"quoted\" world"}
        |{"id": 2, "t": null}
        |not json at all
        |{"id": 3, "t": "tab\tnewline\nend"}
        |{"id": 4, "t":
        |{"id": 5, "t": "ok"}
        |""".stripMargin)
    val spec = JsonlSpec(p.toString, Some(schema))
    val rows = JsonlSource.read(spark, spec)
      .as[(Option[Long], Option[String])].collect().toMap
    assert(rows.keySet == Set(Some(1L), Some(2L), Some(3L), Some(5L)))
    assert(rows(Some(1L)).contains("hello \"quoted\" world"))
    assert(rows(Some(2L)).isEmpty)
    assert(rows(Some(3L)).contains("tab\tnewline\nend"))
    assert(JsonlSource.malformedCount(spark, spec) == 2L)
    // write face round-trips through read with the same schema
    val out = Files.createTempDirectory("graft_jsonl_out").toString
    val df = Seq((10L, Some("x")), (11L, None)).toDF("id", "t")
    JsonlSource.write(df, out)
    val back = JsonlSource.read(spark, JsonlSpec(out, Some(schema)))
      .as[(Long, Option[String])].collect().toSet
    assert(back == Set((10L, Some("x")), (11L, None)))
  }

  test("jsonl malformedCount sees schema/type mismatches, not just syntax") {
    import graft.sources.{JsonlSource, JsonlSpec}
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("t", StringType)))
    // line 2 is well-formed JSON but violates the schema (string id):
    // a count-only plan under column pruning validates only syntax, so
    // the audit must force full parsing to count it as dropped
    val p = Files.createTempFile("graft_jsonl_ty", ".jsonl")
    Files.writeString(p,
      """{"id": 1, "t": "a"}
        |{"id": "not_a_number", "t": "b"}
        |{broken
        |{"id": 4, "t": "d"}
        |""".stripMargin)
    val spec = JsonlSpec(p.toString, Some(schema))
    // a projected read (what consumers actually do) drops both
    val ids = JsonlSource.read(spark, spec)
      .select($"id").as[Option[Long]].collect().flatten.toSet
    assert(ids == Set(1L, 4L))
    assert(JsonlSource.malformedCount(spark, spec) == 2L)
  }
}
