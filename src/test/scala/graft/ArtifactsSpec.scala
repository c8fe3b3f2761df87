package graft

import graft.etl._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Sink-format parity: value::label pipe-joins, xEXT phone rendering,
  * quote-all CSV, duplicate-id guard
  * (combine_contacts.py:1457-1529,1562-1568).
  */
class ArtifactsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def merged(id: String): MergedContact = MergedContact(
    contact_id = id,
    contact = Contact.blank(0).copy(
      full_name = "Ann Yu",
      emails = Seq(EmailEntry("a@x.com", "work"), EmailEntry("b@x.com", "other")),
      phones = Seq(PhoneEntry("+16175550100", "home", "22"),
        PhoneEntry("+16175550101", "work", ""))),
    addresses_json = """[{"city": "Quincy"}]""",
    source_count = 2, source_row_count = 3,
    invalid_emails = Seq("bad1", "bad2"), non_standard_phones = Seq("123"))

  test("consolidated_contacts renders pipe-joined value::label channels + side-channels") {
    import spark.implicits._
    val row = Artifacts.consolidatedContacts(Seq(merged("id-1")).toDS()).collect().head
    assert(row.getAs[String]("emails") == "a@x.com::work|b@x.com::other")
    assert(row.getAs[String]("phones") == "+16175550100x22::home|+16175550101::work")
    assert(row.getAs[String]("invalid_emails") == "bad1|bad2")
    assert(row.getAs[String]("non_standard_phones") == "123")
    assert(row.getAs[Int]("source_count") == 2)
  }

  test("duplicate contact_id aborts the write (combine_contacts.py:1519-1525)") {
    import spark.implicits._
    val dup = Seq(merged("same-id"), merged("same-id")).toDS()
    val e = intercept[IllegalStateException] {
      Artifacts.assertUniqueIds(Artifacts.consolidatedContacts(dup))
    }
    assert(e.getMessage.contains("same-id"))
  }

  test("writeConsolidated aborts on a duplicate contact_id before writing any artifact") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-artifacts-dup").toString
    val dup = Seq(merged("dup-b"), merged("id-1"), merged("dup-b"), merged("dup-a"),
      merged("dup-a")).toDS().repartition(2)
    val e = intercept[IllegalStateException] {
      Artifacts.writeConsolidated(dup, Seq.empty[Lineage].toDS(), out)
    }
    assert(e.getMessage.contains("dup-a, dup-b"))
    assert(new java.io.File(out).list().isEmpty)
  }

  test("writeConsolidated returns the number of contact rows it wrote") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-artifacts-count").toString
    val ms = (1 to 5).map(i => merged(s"id-$i")).toDS().repartition(3)
    val n = Artifacts.writeConsolidated(ms, Seq.empty[Lineage].toDS(), out)
    assert(n == 5)
    for (a <- Seq("consolidated_contacts", "flattened_contacts")) {
      val files = new java.io.File(out, a).listFiles().filter(_.getName.endsWith(".csv"))
      assert(files.length == 1, s"$a is not one file")
      assert(Stages.readArtifactCsv(spark, s"$out/$a").count() == n)
    }
  }

  test("writeConsolidated emits quote-all CSV that round-trips") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-artifacts").toString
    Artifacts.writeConsolidated(
      Seq(merged("id-1")).toDS(),
      Seq(Lineage("id-1", "gmail", "0", "Ann Yu", "", "", "", "a@x.com", "", "[]", "a@x.com", "")).toDS(),
      out)
    val raw = Files.list(new java.io.File(s"$out/consolidated_contacts").toPath)
      .toArray.map(_.toString).filter(_.endsWith(".csv"))
    assert(raw.nonEmpty)
    val text = Files.readString(java.nio.file.Paths.get(raw.head))
    assert(text.startsWith("\"contact_id\"")) // QUOTE_ALL incl. header
    val back = spark.read.option("header", "true").csv(s"$out/consolidated_contacts")
    assert(back.count() == 1)
    assert(back.select("emails").collect().head.getString(0) == "a@x.com::work|b@x.com::other")
    assert(spark.read.option("header", "true").csv(s"$out/consolidated_lineage").count() == 1)
    assert(spark.read.option("header", "true").csv(s"$out/flattened_contacts").count() == 1)
  }

  test("writeCsv sortCols yields a deterministically ordered single file") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-artifacts-order").toString
    // Many input partitions in reverse order: a bare repartition(1) has
    // no ordering contract, sortCols must impose the ranking.
    val df = spark.range(0, 500).select(
      org.apache.spark.sql.functions.col("id"),
      (org.apache.spark.sql.functions.lit(499) -
        org.apache.spark.sql.functions.col("id")).as("score"))
      .repartition(7)
    Artifacts.writeCsv(df, out,
      sortCols = Seq(org.apache.spark.sql.functions.col("score").desc))
    val file = Files.list(new java.io.File(out).toPath)
      .toArray.map(_.toString).filter(_.endsWith(".csv")).head
    val scores = Files.readAllLines(java.nio.file.Paths.get(file))
      .toArray.map(_.toString).drop(1)
      .map(_.split(",")(1).replace("\"", "").toLong)
    assert(scores.toSeq == scores.toSeq.sorted.reverse)
    assert(scores.length == 500)
  }

  test("writeCsv partitioned mode emits part files the CSV reader accepts") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft-artifacts-parts").toString
    val df = Seq(("a", 1L), ("b", 2L), ("c", 3L)).toDF("k", "v").repartition(3)
    Artifacts.writeCsv(df, out, singleFile = false)
    val files = Files.list(new java.io.File(out).toPath)
      .toArray.map(_.toString).filter(_.endsWith(".csv"))
    assert(files.length > 1) // genuinely partitioned output
    val back = spark.read.option("header", "true").csv(out)
    assert(back.count() == 3)
    assert(back.columns.toSeq == Seq("k", "v"))
  }
}
