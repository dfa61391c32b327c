package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.sources.Ingest

class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("score", DoubleType),
    StructField("name", StringType)))

  test("csv ingest splits malformed rows instead of failing") {
    val dir = Files.createTempDirectory("graft_csv").toFile
    val f = new java.io.File(dir, "in.csv")
    Files.writeString(f.toPath,
      "id,score,name\n1,95.5,alice\n2,notanumber,bob\n3,88.0,carol\n")
    val (valid, rejected) = Ingest.validationSplit(
      Ingest.readCsv(spark, f.getAbsolutePath, schema))
    assert(valid.count() == 2)
    assert(rejected.count() == 1)
    assert(rejected.select("_corrupt_record").as[String].head().contains("notanumber"))
  }

  test("json ingest enforces the schema with the same contract") {
    val dir = Files.createTempDirectory("graft_json").toFile
    val f = new java.io.File(dir, "in.jsonl")
    Files.writeString(f.toPath,
      """{"id":1,"score":90.0,"name":"a"}
        |{"id":"oops","score":{},"name":3
        |{"id":2,"score":70.5,"name":"b"}
        |""".stripMargin)
    val (valid, rejected) = Ingest.validationSplit(
      Ingest.readJson(spark, f.getAbsolutePath, schema))
    assert(valid.count() == 2)
    assert(rejected.count() == 1)
  }

  test("bucketed tables join without any shuffle exchange") {
    val orders = Tables.orders(spark, sfDir)
    val lineitem = Tables.lineitem(spark, sfDir)
    Ingest.writeBucketed(orders, "graft_b_orders", "o_orderkey", 4)
    Ingest.writeBucketed(lineitem, "graft_b_lineitem", "l_orderkey", 4)
    val joined = spark.table("graft_b_orders")
      .join(spark.table("graft_b_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderkey").count()
    val plan = joined.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange hashpartitioning"),
      s"bucketed join must not shuffle:\n$plan")
    assert(joined.count() == orders.join(lineitem,
      col("o_orderkey") === col("l_orderkey")).groupBy("o_orderkey").count().count())
  }

  test("XML exam ingest (TDSReport): permissive parse, corrupt + required-field diverts") {
    val dir = Files.createTempDirectory("graft_xml").toFile
    Files.writeString(new java.io.File(dir, "exam1.xml").toPath,
      """<TDSReport>
        |  <Test name="SBAC-ICA-G7M" subject="MATH" grade="07"/>
        |  <Examinee key="12345"/>
        |  <Opportunity key="opp-1" status="completed" dateCompleted="2024-03-01 10:00:00">
        |    <Score measureOf="Overall" value="2551.5"/>
        |  </Opportunity>
        |</TDSReport>
        |""".stripMargin)
    Files.writeString(new java.io.File(dir, "exam2.xml").toPath,
      """<TDSReport>
        |  <Test name="SBAC-ICA-G7E" subject="ELA" grade="07"/>
        |  <Opportunity key="opp-2" status="appeal"/>
        |</TDSReport>
        |""".stripMargin) // no Examinee key → required-field divert
    Files.writeString(new java.io.File(dir, "exam3.xml").toPath,
      "this is not an XML document <<<\n") // unparseable → corrupt divert, job survives
    val parsed = Ingest.readExamXml(spark, dir.getAbsolutePath)
    val (wellFormed, corrupt) = Ingest.validationSplit(parsed)
    assert(corrupt.count() == 1)
    val (valid, diverted) = Ingest.requiredSplit(wellFormed,
      Seq("test_name", "student_key", "opportunity_key"))
    val v = valid
      .select("test_name", "student_key", "scale_score", "date_completed")
      .as[(String, Long, Double, java.sql.Timestamp)].collect()
    assert(v.length == 1)
    assert(v.head._1 == "SBAC-ICA-G7M" && v.head._2 == 12345L && v.head._3 == 2551.5)
    assert(v.head._4 == java.sql.Timestamp.valueOf("2024-03-01 10:00:00"))
    assert(diverted.count() == 1)
    assert(diverted.select("test_name").as[String].head() == "SBAC-ICA-G7E")
  }

  test("xmlAttributeRemap rewrites bankKey before the parse; remapped items flow to exam_item grain") {
    // the documented admin fix-up (Runbook.DataSpecifications.md:80):
    // a provider submits items under legacy bank 10200, which must be
    // remapped to 200 BEFORE processing
    val raw = Seq(
      """<TDSReport>
        |  <Test name="T1" subject="MATH" grade="07"/>
        |  <Examinee key="55"/>
        |  <Opportunity key="o1" status="completed" dateCompleted="2024-03-01 10:00:00">
        |    <Score measureOf="Overall" value="2500.0"/>
        |    <Item position="1" bankKey="10200" key="9001" score="1.0"/>
        |    <Item position="2" bankKey="300" key="9002" score="0.0"/>
        |    <Item position="3" bankKey="10200" key="9003" score="2.0"/>
        |  </Opportunity>
        |</TDSReport>""".stripMargin).toDF("value")
    val fixed = Ingest.preprocess(raw, "value",
      Seq(Ingest.xmlAttributeRemap("Item", "bankKey", "10200", "200")))
    val items = Ingest.examItems(Ingest.parseExamXml(fixed))
      .select("opportunity_key", "position", "bank_key", "item_key", "item_score")
      .as[(String, Int, Long, Long, Double)].collect().toSeq.sortBy(_._2)
    assert(items.map(_._3) == Seq(200L, 300L, 200L),
      s"bankKey 10200 must remap to 200, others untouched: $items")
    assert(items.map(i => (i._2, i._4, i._5)) ==
      Seq((1, 9001L, 1.0), (2, 9002L, 0.0), (3, 9003L, 2.0)))
    // the remap touches ONLY the named element/attribute: an Examinee
    // with the same value stays as submitted
    val other = Seq("""<TDSReport><Examinee key="10200"/><Opportunity key="o2" status="completed"/></TDSReport>""").toDF("value")
    val kept = Ingest.preprocess(other, "value",
      Seq(Ingest.xmlAttributeRemap("Item", "bankKey", "10200", "200")))
    assert(Ingest.parseExamXml(kept).select("student_key").as[Long].head() == 10200L)
    // a submission without ExamItems contributes no item rows (the
    // section is optional, DataSpecifications.md:51)
    assert(Ingest.examItems(Ingest.parseExamXml(other)).count() == 0)
  }

  test("pre-ingest transform pipeline fixes third-party quirks before the parse") {
    // a submission with two formatting idiosyncrasies: a UTF-8 BOM and
    // a legacy attribute name (studentKey instead of key)
    val raw = Seq(
      "﻿<TDSReport><Test name=\"T1\" subject=\"MATH\" grade=\"07\"/>" +
        "<Examinee studentKey=\"77\"/><Opportunity key=\"o1\" status=\"completed\"/></TDSReport>")
      .toDF("value")
    // unparsed, the Examinee key is missing → diverted
    assert(Ingest.requiredSplit(Ingest.parseExamXml(raw),
      Seq("student_key"))._2.count() == 1)
    // two pipeline stages (strip BOM, rename the legacy attribute)
    // repair the payload without touching the parser
    val fixed = Ingest.preprocess(raw, "value", Seq(
      c => regexp_replace(c, "^﻿", ""),
      c => regexp_replace(c, "studentKey=", "key=")))
    val (valid, rejected) = Ingest.requiredSplit(Ingest.parseExamXml(fixed),
      Seq("test_name", "student_key", "opportunity_key"))
    assert(rejected.count() == 0)
    assert(valid.select("student_key").as[Long].head() == 77L)
  }

  test("tenant-partitioned mart: a tenant-scoped query prunes to that tenant's partitions") {
    val out = Files.createTempDirectory("graft_tenants").toFile.getAbsolutePath + "/mart"
    val df = Seq(
      ("district_a", 1L, 2023, 10.0), ("district_a", 2L, 2024, 20.0),
      ("district_b", 3L, 2023, 30.0), ("district_b", 4L, 2024, 40.0),
      ("district_c", 5L, 2023, 50.0))
      .toDF("tenant", "id", "year", "v")
    Ingest.writeTenantPartitioned(df, out, "tenant", Seq("year"))
    val scoped = Ingest.forTenant(spark, out, "tenant", "district_b")
    assert(scoped.count() == 2)
    assert(scoped.select("id").as[Long].collect().toSet == Set(3L, 4L))
    val plan = scoped.queryExecution.executedPlan.toString
    // the tenant predicate must be a PartitionFilter on the scan
    // (directory pruning), never a post-scan Filter over all tenants
    val pf = plan.linesIterator.find(_.contains("PartitionFilters"))
    assert(pf.exists(_.contains("tenant")), s"tenant filter not pushed to partitions:\n$plan")
    assert(!plan.contains("PushedFilters: [IsNotNull(tenant"),
      "tenant is a partition column, not a data column")
    // nested pruning still works inside the tenant directory
    val nested = scoped.filter(col("year") === 2024)
    val nestedPf = nested.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(nestedPf.contains("tenant") && nestedPf.contains("year"))
    assert(nested.count() == 1)
  }

  test("strict-header group CSV: exact header passes, wrong header is rejected before parsing") {
    val dir = Files.createTempDirectory("graft_grp").toFile
    val good = new java.io.File(dir, "good.csv")
    Files.writeString(good.toPath, "id,score,name\n1,95.5,alice\n")
    assert(Ingest.readCsvStrictHeader(spark, good.getAbsolutePath, schema)
      .select("id").as[Long].collect().toSeq == Seq(1L))
    val bad = new java.io.File(dir, "bad.csv")
    Files.writeString(bad.toPath, "id,name,score\n1,alice,95.5\n") // reordered
    val e = intercept[IllegalArgumentException] {
      Ingest.readCsvStrictHeader(spark, bad.getAbsolutePath, schema)
    }
    assert(e.getMessage.contains("header mismatch"))
  }

  test("compaction merges small files into target-sized outputs without losing rows") {
    val in = Files.createTempDirectory("graft_compact_in").toString
    val out = Files.createTempDirectory("graft_compact_out").toString + "/v1"
    // micro-batch-style accretion: 20 tiny files
    spark.range(10000).select(col("id"), (col("id") % 7).as("k"))
      .repartition(20).write.mode("overwrite").parquet(in)
    val stats = Ingest.compact(spark, in, out, targetBytes = 1L * 1024 * 1024)
    assert(stats.filesBefore == 20)
    assert(stats.filesAfter < stats.filesBefore,
      s"expected fewer files, got $stats")
    // byte-for-byte content preservation
    val a = spark.read.parquet(in).orderBy("id").collect().toSeq
    val b = spark.read.parquet(out).orderBy("id").collect().toSeq
    assert(a == b)
    // the merge plans as coalesce, not an exchange: compaction must
    // move bytes through writers only, never through a shuffle
    val plan = spark.read.parquet(in).coalesce(3)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"coalesce must not shuffle:\n$plan")
  }

  test("partitioned mart write round-trips and prunes partitions") {
    val out = Files.createTempDirectory("graft_mart").toFile.getAbsolutePath + "/mart"
    val df = Seq((1L, 2023, 10.0), (2L, 2023, 20.0), (3L, 2024, 30.0))
      .toDF("id", "year", "v")
    Ingest.writePartitioned(df, out, Seq("year"))
    val back = spark.read.parquet(out)
    assert(back.count() == 3)
    // partition pruning: a year filter must not scan the other year's files
    val pruned = back.filter(col("year") === 2024)
    assert(pruned.count() == 1)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters"), s"expected partition filters in:\n$scan")
    // dynamic overwrite: rewriting 2024 leaves 2023 untouched
    Ingest.writePartitioned(Seq((9L, 2024, 99.0)).toDF("id", "year", "v"), out, Seq("year"))
    val after = spark.read.parquet(out)
    assert(after.filter(col("year") === 2023).count() == 2)
    assert(after.filter(col("year") === 2024).as[(Long, Double, Int)].collect()
      .map(_._1).toSeq == Seq(9L))
  }

  test("raw-import archive: deterministic dt layout, content hashes, pruned replay") {
    val root = Files.createTempDirectory("graft_archive").toString
    val day1 = Seq(("<xml>a</xml>", ts("2024-03-01 10:00:00")),
                   ("<xml>b</xml>", ts("2024-03-01 11:00:00")))
    val day2 = Seq(("<xml>c</xml>", ts("2024-03-02 09:00:00")))
    Ingest.archiveRaw((day1 ++ day2).toDF("payload", "received_at"),
      "exams", "payload", "received_at", root)
    // immutable + additive: a later batch appends, never rewrites
    Ingest.archiveRaw(Seq(("<xml>d</xml>", ts("2024-03-02 12:00:00")))
      .toDF("payload", "received_at"), "exams", "payload", "received_at", root)
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/exams"))
      .map(_.getPath.getName).filter(_.startsWith("dt=")).toSet
    assert(parts == Set("dt=2024-03-01", "dt=2024-03-02"), s"got $parts")
    // replay one day: only that partition's rows, hashes content-stable
    val replay = Ingest.readArchive(spark, root, "exams", Some("2024-03-02"))
    assert(replay.select("payload").as[String].collect().toSet ==
      Set("<xml>c</xml>", "<xml>d</xml>"))
    val hashed = replay.filter(col("payload_md5") =!= md5(col("payload"))).count()
    assert(hashed == 0, "archived hash must equal recomputed content hash")
    // pruning: the day filter becomes a PartitionFilter, not a scan filter
    val plan = replay.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("dt"),
      s"replay must prune to the day's partition:\n$plan")
  }

  test("accommodations XML payload round-trips the code registry; malformed payload yields no codes") {
    val xml =
      """<AccessibilityConfig>
        |  <Accommodation code="TTS" description="text to speech"/>
        |  <Accommodation code="MAG" description="magnification"/>
        |</AccessibilityConfig>""".stripMargin
    val got = Ingest.parseAccommodationsXml(spark, xml)
      .as[(String, String)].collect().toSet
    assert(got == Set(("TTS", "text to speech"), ("MAG", "magnification")))
    // PERMISSIVE contract: broken XML must not kill the job
    assert(Ingest.parseAccommodationsXml(spark, "<not-even-xml").count() == 0)
  }

  test("claim-config CSV parses strictly and rejects malformed package payloads") {
    val cfg = Ingest.parseClaimConfigCsv(spark,
      "claim,cut_low,cut_high\n1,10.0,20.0\n2,15.0,25.0")
    assert(cfg.as[(Int, Double, Double)].collect().toSet ==
      Set((1, 10.0, 20.0), (2, 15.0, 25.0)))
    // FAILFAST: package config is the critical-elements path — a bad
    // row rejects the payload instead of silently nulling
    intercept[org.apache.spark.SparkException] {
      Ingest.parseClaimConfigCsv(spark,
        "claim,cut_low,cut_high\n1,notanumber,20.0").collect()
    }
  }

  test("subject-definition XML round-trips levels + cut pairs; the real reference file parses") {
    val xml = graft.queries.Relational.q49SubjectXml
    // performance-level registry: overall levels carry range+cutoff,
    // claim levels the three standard bands
    val lv = Ingest.subjectPerformanceLevels(spark, xml)
      .select("subject", "asmt_type", "scoring", "level", "level_name",
        "standard_cutoff")
      .as[(String, String, String, Int, String, Option[Int])].collect().toSet
    assert(lv.count(_._3 == "overall") == 4)
    assert(lv.filter(_._3 == "overall").forall(_._6.contains(3)))
    assert(lv.filter(_._3 == "claim").map(r => (r._4, r._5)) ==
      Set((1, "Below Standard"), (2, "Near Standard"), (3, "Above Standard")))
    // cut-pair table round-trips with exact doubles
    val cuts = Ingest.subjectItemDifficulties(spark, xml)
      .as[(String, String, Double, Double)].collect().toSet
    assert(cuts.contains(("Math", "01", 25000.0, 45000.0)))
    assert(cuts.size == 4)
    // the actual reference deploy file parses through the same schema
    val ref = java.nio.file.Paths.get("/root/reference/deploy/Math_subject.xml")
    assume(java.nio.file.Files.exists(ref))
    val real = new String(java.nio.file.Files.readAllBytes(ref), "UTF-8")
    val realLv = Ingest.subjectPerformanceLevels(spark, real)
    assert(realLv.filter(col("scoring") === "overall").count() >= 4)
    val realCuts = Ingest.subjectItemDifficulties(spark, real)
    assert(realCuts.count() == 9) // grades 03..11
    // FAILFAST: subject config is critical-path — malformed rejects
    intercept[org.apache.spark.SparkException] {
      Ingest.parseSubjectXml(spark, "<Subject code=").collect()
    }
  }

  test("ELPAC subject XML round-trips alt scoring + AltScores registry; Math file yields no alt rows") {
    // the real reference deploy file (the round-5 gap: AltScores was
    // silently dropped by schema projection)
    val ref = java.nio.file.Paths.get("/root/reference/deploy/ELPAC_subject.xml")
    assume(java.nio.file.Files.exists(ref))
    val real = new String(java.nio.file.Files.readAllBytes(ref), "UTF-8")
    val alts = Ingest.subjectAltScores(spark, real)
      .as[(String, String, String, Int)].collect().toSet
    assert(alts == Set(("ELPAC", "1", "Oral Language", 1),
      ("ELPAC", "2", "Written Language", 2)),
      s"AltScores registry must parse (space-padded displayOrder trims): $alts")
    val altLv = Ingest.subjectPerformanceLevels(spark, real)
      .filter(col("scoring") === "alt")
      .select("asmt_type", "min_score", "max_score", "level", "level_name")
      .as[(String, Option[Int], Option[Int], Int, String)].collect().toSet
    assert(altLv.map(_._4) == Set(1, 2, 3, 4), s"four alt levels: $altLv")
    assert(altLv.forall(r => r._2.contains(1150) && r._3.contains(1950)),
      s"AltScoring range rides every level row: $altLv")
    // subjects WITHOUT the alt sections (Math) parse unchanged: zero
    // alt rows, not an error — and the q73 fixture matches the file
    val math = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/root/reference/deploy/Math_subject.xml")), "UTF-8")
    assert(Ingest.subjectAltScores(spark, math).count() == 0)
    assert(Ingest.subjectPerformanceLevels(spark, math)
      .filter(col("scoring") === "alt").count() == 0)
    val fixture = Ingest.subjectAltScores(spark,
      graft.queries.Relational.q73SubjectXml)
      .as[(String, String, String, Int)].collect().toSet
    assert(fixture == alts, "q73's embedded config == the real file's registry")
  }

  test("tenant config overlay: override wins, base falls through, tenant-new survives, tenants are scoped") {
    import graft.queries.{Monitoring, Relational}
    val base = Ingest.parseConfigCsv(spark, Relational.q75BaseCsv,
      StructType.fromDDL("key string not null, value string not null"))
    val ov = Ingest.parseConfigCsv(spark, Relational.q75TenantCsv,
      StructType.fromDDL("tenant string not null, key string not null, value string not null"))
    val ot = Ingest.resolveTenantConfig(base, ov, "OT")
      .as[(String, String, String)].collect()
      .map { case (k, v, src) => k -> (v, src) }.toMap
    // override-wins (the real tenant-OT overrides: year/state/field)
    assert(ot("reporting.school-year") == ("2019", "override"))
    assert(ot("reporting.state.code") == ("OT", "override"))
    assert(ot("reporting.student-fields.Section504") == ("Disabled", "override"))
    // base-fallback for keys the tenant doesn't touch
    assert(ot("reporting.client") == ("SBAC", "base"))
    assert(ot("reporting.student-fields.Ethnicity") == ("Enabled", "base"))
    // tenant-only keys survive (the tenantProperties declaration block)
    assert(ot("tenantProperties.tenants.OT.name") == ("Other (sample tenant)", "tenant-new"))
    // another tenant's overlay never leaks in
    assert(!ot.values.exists(_._1 == "TS") && ot("reporting.state.name") == ("Other", "override"))
    // an unknown tenant resolves to exactly the base config
    val none = Ingest.resolveTenantConfig(base, ov, "ZZ")
      .as[(String, String, String)].collect()
    assert(none.forall(_._3 == "base") && none.length == 8)
    // the q61 consumer: tenant CA (no overlay) sees the instance
    // registry — the certified report is unchanged — while OT's view
    // differs in exactly its overridden + declared rows
    val statusBase = Ingest.parseConfigCsv(spark, Monitoring.q61StatusCsv,
      StructType.fromDDL("status_code string not null, status_name string not null"))
    val statusOv = Ingest.parseConfigCsv(spark, Monitoring.q61TenantStatusCsv,
      StructType.fromDDL("tenant string not null, status_code string not null, status_name string not null"))
    def reg(t: String) = Ingest.resolveTenantConfig(statusBase, statusOv, t,
        keyCol = "status_code", valueCol = "status_name")
      .select("status_code", "status_name").as[(String, String)].collect().toSet
    assert(reg("CA") == Set(("O", "ACCEPTED"), ("P", "PARTIAL")))
    assert(reg("OT") == Set(("O", "ACCEPTED"), ("P", "PENDING"), ("X", "EXPIRED")))
  }

  test("q54 exclusion config arrives through the strict config-CSV contract") {
    import graft.queries.Relational
    val ex = Ingest.parseConfigCsv(spark, Relational.q54ExclusionCsv,
      StructType.fromDDL("ex_brand string not null, ex_target int not null"))
      .as[(String, Int)].collect().toSet
    assert(ex == Set(("Brand#45", 3), ("Brand#51", 7), ("Brand#12", 0)))
    // same FAILFAST critical-config contract as the package CSV
    intercept[org.apache.spark.SparkException] {
      Ingest.parseConfigCsv(spark, "ex_brand,ex_target\nBrand#1,notanint",
        StructType.fromDDL("ex_brand string not null, ex_target int not null")).collect()
    }
  }

  test("monitoring registries (q61 status, q67 type/admin) ride the strict config-CSV contract") {
    import graft.queries.Monitoring
    val status = Ingest.parseConfigCsv(spark, Monitoring.q61StatusCsv,
      StructType.fromDDL("status_code string not null, status_name string not null"))
      .as[(String, String)].collect().toSet
    assert(status == Set(("O", "ACCEPTED"), ("P", "PARTIAL")))
    val types = Ingest.parseConfigCsv(spark, Monitoring.q67TypeCsv,
      StructType.fromDDL("prio_code string not null, asmt_type string not null"))
      .as[(String, String)].collect().toMap
    assert(types.size == 5 && types("1-URGENT") == "summative")
    val adm = Ingest.parseConfigCsv(spark, Monitoring.q67AdminCsv,
      StructType.fromDDL("status_code string not null, admin_cond string not null"))
      .as[(String, String)].collect().toMap
    assert(adm == Map("O" -> "NS", "P" -> "SD", "F" -> "Valid"))
  }

  test("q70 pipeline regression harness: pass/fail/skipped land exactly as the fixtures dictate") {
    // the oracle gate proves Spark == DuckDB; this pins Spark == INTENT
    // (both engines agreeing on wrong regex behavior would still hash-match)
    val rows = SparkEntry.queries("q70_pipeline_tests")(spark, sfDir)
      .collect().map(r => (r.getString(1), r.getString(2))).toMap
    assert(rows("remap_simple") == "pass" && rows("quote_aware") == "pass" &&
      rows("remap_other_value") == "pass" && rows("other_element_untouched") == "pass")
    assert(rows("stale_expectation") == "fail",
      "a wrong expected_output must surface as fail, not silently pass")
    assert(rows("header_fix") == "skipped",
      "tests of a pipeline with no active script version must be skipped")
  }

  test("q49 cut config: subject-XML path and tabulator-CSV path yield the identical frame") {
    import graft.queries.Relational
    val viaXml = Relational.q49CutsFromXml(spark)
      .as[(Int, Double, Double)].collect().toSet
    val viaCsv = Ingest.parseClaimConfigCsv(spark, Relational.q49ClaimConfigCsv)
      .as[(Int, Double, Double)].collect().toSet
    assert(viaXml == viaCsv, s"config channels diverged: $viaXml vs $viaCsv")
    assert(viaXml.size == 4)
  }
}
