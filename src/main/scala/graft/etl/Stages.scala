package graft.etl

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Stages 2-4 as runnable CLIs over the CSV interchange format — the
  * library equivalents of the reference's `contacts-validate`,
  * `contacts-confidence` and `contacts-tag` entry points
  * (validate_quality.py:107, confidence_report.py:194,
  * tag_contacts.py:183). Like the reference, each stage re-reads the
  * previous stage's CSV artifacts (pipe-joined `value::label` channel
  * strings, JSON address arrays), so a user can swap any single stage
  * between the two implementations. The in-memory typed path
  * (Score/Tag over Dataset[Contact]) remains the composition-friendly
  * API; these mains are the file-interchange surface.
  */
object Stages {

  /** Resolve an artifact written either by this engine (a directory of
    * part files) or by the reference (a plain `<name>.csv`) — the
    * stage CLIs accept both, so any single stage can be swapped
    * between the two implementations. */
  def artifactPath(dir: String, name: String): String = {
    val d = new java.io.File(dir, name)
    if (d.exists) d.getPath else s"$dir/$name.csv"
  }

  /** All-string artifact read matching the reference's
    * `dtype=str, keep_default_na=False` (QUOTE_ALL, RFC-4180 quotes).
    * The schema comes from the artifact's header record, parsed on the
    * driver, so the read runs no Spark header-inference job. */
  def readArtifactCsv(spark: SparkSession, path: String): DataFrame = {
    val schema = StructType(artifactHeader(spark, path).map(StructField(_, StringType)))
    val df = spark.read
      .schema(schema)
      .option("header", "true")
      .option("escape", "\"")
      .option("multiLine", "true")
      .csv(path)
    df.na.fill("")
  }

  /** Column names in the header record of a `<name>.csv` file or of
    * the first non-empty data file of a part-file directory, through
    * the path's Hadoop file system; an artifact with no header record
    * has no columns. */
  private def artifactHeader(spark: SparkSession, path: String): Seq[String] = {
    import org.apache.hadoop.fs.Path
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val file =
      if (!fs.getFileStatus(p).isDirectory) Some(p)
      else fs.listStatus(p).toSeq
        .filter(f => f.isFile && f.getLen > 0 &&
          !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
        .map(_.getPath).sortBy(_.getName).headOption
    file.flatMap { f =>
      // Where univocity's defaults differ from Spark's multi-line read
      // (its '"' quote and escape already match).
      val settings = new com.univocity.parsers.csv.CsvParserSettings()
      settings.getFormat.setComment('\u0000')
      settings.setIgnoreLeadingWhitespaces(false)
      settings.setIgnoreTrailingWhitespaces(false)
      settings.setLineSeparatorDetectionEnabled(true)
      val parser = new com.univocity.parsers.csv.CsvParser(settings)
      val in = fs.open(f)
      try {
        parser.beginParsing(in, "UTF-8")
        Option(parser.parseNext())
      } finally { parser.stopParsing(); in.close() }
    }.getOrElse(Array.empty[String]).toSeq
  }

  // ---- channel-string / JSON parsers (validate_quality.py:21-88) ----

  /** Pipe-split of a channel field, blank-trimmed parts kept in order. */
  private def channelParts(c: Column): Column =
    filter(split(c, "\\|"), p => trim(p) =!= "")

  /** Email entries: value = part before the first "::" (trimmed);
    * label = second unlimited-split element (validate_quality.py:29-30:
    * `p.split("::")[1]`), "" when no "::". */
  def emailEntries(c: Column): Column =
    transform(channelParts(c), p => struct(
      trim(element_at(split(p, "::"), 1)).as("value"),
      when(p.contains("::"), trim(element_at(split(p, "::"), 2)))
        .otherwise("").as("label")))

  /** Phone entries: split("::", limit 2) (validate_quality.py:52-53). */
  def phoneEntries(c: Column): Column =
    transform(channelParts(c), p => struct(
      trim(element_at(split(p, "::", 2), 1)).as("value"),
      when(p.contains("::"), trim(element_at(split(p, "::", 2), 2)))
        .otherwise("").as("label")))

  private val AddrSchema = ArrayType(StructType(Seq(
    StructField("street", StringType), StructField("city", StringType),
    StructField("state", StringType), StructField("postal_code", StringType),
    StructField("country", StringType), StructField("label", StringType))))

  /** Addresses from the JSON artifact column; malformed/empty → empty
    * array (validate_quality.py:60-67). Fields are trimmed with blank
    * defaults like safe_get. */
  def addrEntries(c: Column): Column = {
    val parsed = coalesce(from_json(c, AddrSchema), array().cast(AddrSchema))
    transform(parsed, a => struct(
      trim(coalesce(a.getField("street"), lit(""))).as("street"),
      trim(coalesce(a.getField("city"), lit(""))).as("city"),
      trim(coalesce(a.getField("state"), lit(""))).as("state"),
      trim(coalesce(a.getField("postal_code"), lit(""))).as("postal_code"),
      trim(coalesce(a.getField("country"), lit(""))).as("country"),
      trim(coalesce(a.getField("label"), lit(""))).as("label")))
  }

  // ---- python-json.dumps-compatible rendering ----------------------

  /** Escape exactly like Python json.dumps(ensure_ascii=False): quote,
    * backslash, and control chars; non-ASCII kept raw. */
  private def pyJsonString(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case '\b' => b.append("\\b")
      case '\f' => b.append("\\f")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** `[{"email": "x", "label": "y", "valid": true}, …]` — python dict
    * rendering with default separators (", ", ": "). */
  private val emailsDetailUdf = udf { (entries: Seq[org.apache.spark.sql.Row]) =>
    entries.map { e =>
      val value = e.getString(0); val label = e.getString(1)
      val valid = value.nonEmpty && label.toLowerCase != "invalid"
      s"{${pyJsonString("email")}: ${pyJsonString(value)}, " +
        s"${pyJsonString("label")}: ${pyJsonString(label)}, " +
        s"${pyJsonString("valid")}: $valid}"
    }.mkString("[", ", ", "]")
  }

  /** `["+16175550100", …]` — the VALID phone values only
    * (validate_quality.py:38-57). */
  private val phonesDetailUdf = udf { (entries: Seq[org.apache.spark.sql.Row]) =>
    entries.collect {
      case e if e.getString(0).nonEmpty && e.getString(1).toLowerCase != "invalid" =>
        pyJsonString(e.getString(0))
    }.mkString("[", ", ", "]")
  }

  private val addrsDetailUdf = udf { (entries: Seq[org.apache.spark.sql.Row]) =>
    entries.map { a =>
      val Seq(street, city, state, postal, country) =
        Seq(0, 1, 2, 3, 4).map(a.getString)
      val valid = street.nonEmpty && (city.nonEmpty || postal.nonEmpty)
      s"{${pyJsonString("street")}: ${pyJsonString(street)}, " +
        s"${pyJsonString("city")}: ${pyJsonString(city)}, " +
        s"${pyJsonString("state")}: ${pyJsonString(state)}, " +
        s"${pyJsonString("postal_code")}: ${pyJsonString(postal)}, " +
        s"${pyJsonString("country")}: ${pyJsonString(country)}, " +
        s"${pyJsonString("valid")}: $valid}"
    }.mkString("[", ", ", "]")
  }

  // ---- stage 2: validate -------------------------------------------

  private def validCountEntries(entries: Column): Column =
    size(filter(entries, e =>
      e.getField("value") =!= "" && lower(e.getField("label")) =!= "invalid"))

  private def validCountAddrs(entries: Column): Column =
    size(filter(entries, a => a.getField("street") =!= "" &&
      (a.getField("city") =!= "" || a.getField("postal_code") =!= "")))

  /** validation_report + contact_quality_scored from the consolidated
    * artifacts (validate_quality.py:107-233). */
  def validate(contacts: DataFrame, flattened: DataFrame,
      w: Score.QualityWeights = Score.QualityWeights()): (DataFrame, DataFrame) = {
    val flat = flattened.select(col("contact_id"),
      (trim(col("home_email")) =!= "").cast("int").as("home_email_present"),
      (trim(col("work_email")) =!= "").cast("int").as("work_email_present"),
      (trim(col("home_phone")) =!= "").cast("int").as("home_phone_present"),
      (trim(col("work_phone")) =!= "").cast("int").as("work_phone_present"),
      (trim(col("home_address")) =!= "").cast("int").as("home_address_present"),
      (trim(col("work_address")) =!= "").cast("int").as("work_address_present"))
    val presentCols = flat.columns.filter(_ != "contact_id")
    val base = contacts
      .withColumn("_em", emailEntries(col("emails")))
      .withColumn("_ph", phoneEntries(col("phones")))
      .withColumn("_ad", addrEntries(col("addresses_json")))
      .withColumn("email_valid_count", validCountEntries(col("_em")))
      .withColumn("email_total", size(col("_em")))
      .withColumn("phone_valid_count", validCountEntries(col("_ph")))
      .withColumn("phone_total", size(col("_ph")))
      .withColumn("addr_valid_count", validCountAddrs(col("_ad")))
      .withColumn("addr_total", size(col("_ad")))
      .withColumn("quality_score",
        when(col("email_total") > 0 && col("email_total") === col("email_valid_count"), w.emailFull)
          .when(col("email_valid_count") > 0, w.emailPartial).otherwise(0) +
        when(col("phone_total") > 0 && col("phone_total") === col("phone_valid_count"), w.phoneFull)
          .when(col("phone_valid_count") > 0, w.phonePartial).otherwise(0) +
        when(col("addr_valid_count") > 0, w.addressAny).otherwise(0))
      .join(flat, Seq("contact_id"), "left")
      .na.fill(0, presentCols)
    val report = base.select(
      col("contact_id"), col("full_name"), col("company"), col("title"),
      trim(col("department")).as("department"), col("linkedin_url"),
      col("email_valid_count"), col("email_total"),
      col("phone_valid_count"), col("phone_total"),
      col("addr_valid_count"), col("addr_total"),
      emailsDetailUdf(col("_em")).as("emails_detail"),
      phonesDetailUdf(col("_ph")).as("phones_detail"),
      addrsDetailUdf(col("_ad")).as("addresses_detail"),
      (trim(col("department")) === "").cast("int").as("department_missing"),
      col("home_email_present"), col("work_email_present"),
      col("home_phone_present"), col("work_phone_present"),
      col("home_address_present"), col("work_address_present"),
      col("quality_score"))
    val metricCols = Seq("email_valid_count", "email_total",
      "phone_valid_count", "phone_total", "addr_valid_count", "addr_total",
      "quality_score", "department_missing") ++ presentCols
    val scored = contacts.join(
      report.select((Seq(col("contact_id")) ++ metricCols.map(col)): _*),
      Seq("contact_id"), "left")
    (report, scored)
  }

  // ---- stage 3: confidence -----------------------------------------

  /** confidence_report + confidence_summary
    * (confidence_report.py:110-262). Metrics come from the validation
    * CSV (vmap), presence bits from the contacts + flattened CSVs —
    * exactly the reference's inputs. */
  def confidence(contacts: DataFrame, validation: DataFrame,
      flattened: DataFrame): (DataFrame, DataFrame) = {
    val vmap = validation.select(col("contact_id"),
      col("email_valid_count").cast("int").as("v_ev"),
      col("email_total").cast("int").as("v_et"),
      col("phone_valid_count").cast("int").as("v_pv"),
      col("phone_total").cast("int").as("v_pt"),
      col("addr_valid_count").cast("int").as("v_av"),
      col("quality_score").cast("int").as("v_q"))
    val flat = flattened.select(col("contact_id"),
      ((trim(col("work_email")) =!= "").cast("int") +
        (trim(col("work_phone")) =!= "").cast("int") +
        (trim(col("work_address")) =!= "").cast("int")).as("work_channels"))
    val joined = contacts
      .join(vmap, Seq("contact_id"), "left").na.fill(0,
        Seq("v_ev", "v_et", "v_pv", "v_pt", "v_av", "v_q"))
      .join(flat, Seq("contact_id"), "left").na.fill(0, Seq("work_channels"))
      .withColumn("_em", emailEntries(col("emails")))
      .withColumn("_ph", phoneEntries(col("phones")))
    def allInvalid(entries: Column): Column =
      size(entries) > 0 && forall(entries, e =>
        e.getField("value") === "" || lower(e.getField("label")) === "invalid")
    val corroborators =
      (trim(col("emails")) =!= "").cast("int") +
      (trim(col("phones")) =!= "").cast("int") +
      (trim(col("addresses_json")) =!= "" &&
        trim(col("addresses_json")) =!= "[]").cast("int") +
      (trim(col("linkedin_url")) =!= "").cast("int")
    val depth = coalesce(col("source_count").cast("int"), lit(1))
    val raw =
      round(least(col("v_q"), lit(100)) * 0.4, 0) +
      least(corroborators * 5, lit(20)) +
      when(depth >= 3, 10).when(depth === 2, 6).otherwise(2) +
      when(trim(col("linkedin_url")) =!= "", 6).otherwise(0) +
      when(trim(col("company")) =!= "" || trim(col("title")) =!= "", 6).otherwise(0) +
      when(trim(col("department")) =!= "", 3).otherwise(0) +
      when(col("work_channels") > 0, least(col("work_channels") * 2, lit(6))).otherwise(0) +
      when(col("v_et") > 0 && col("v_et") === col("v_ev"), 5).otherwise(0) +
      when(col("v_pt") > 0 && col("v_pt") === col("v_pv"), 3).otherwise(0) +
      when(col("v_av") > 0, 2).otherwise(0) +
      when(trim(col("first_name")) =!= "" && trim(col("last_name")) =!= "", 3).otherwise(0) +
      when(trim(col("full_name")) =!= "", 2).otherwise(0) -
      when(allInvalid(col("_em")), 5).otherwise(0) -
      when(allInvalid(col("_ph")), 4).otherwise(0)
    val withScore = joined
      .withColumn("confidence_score",
        greatest(lit(0), least(lit(100), raw)).cast("int"))
      .withColumn("confidence_bucket",
        when(col("confidence_score") >= 80, "very_high")
          .when(col("confidence_score") >= 60, "high")
          .when(col("confidence_score") >= 40, "medium")
          .otherwise("low"))
    val report = withScore.select(
      (contacts.columns.toIndexedSeq.map(col) :+ col("confidence_score") :+
        col("confidence_bucket")): _*)
    // Fixed bucket order incl. zero-count rows; half-even (bround)
    // pcts match pandas' numpy rounding (confidence_report.py:239-262).
    val counts = report.groupBy(col("confidence_bucket").as("bucket"))
      .agg(count(lit(1)).as("count"))
    val spark = contacts.sparkSession
    import spark.implicits._
    val buckets = Seq("very_high", "high", "medium", "low")
      .zipWithIndex.toDF("bucket", "ord")
    val total = sum(col("count")).over()
    val summary = buckets.join(counts, Seq("bucket"), "left")
      .na.fill(0, Seq("count"))
      .withColumn("pct", when(col("count") === 0, lit(0.0)).otherwise(
        bround(col("count").cast("double") / total.cast("double") * 100.0, 2)))
      .orderBy(col("ord"))
      .select(col("bucket"), col("count"), col("pct"))
    (report, summary)
  }

  // ---- stage 4: tag -------------------------------------------------

  /** tagged_contacts + referral_targets (tag_contacts.py:110-176).
    * Channel strings re-parsed like the reference; notes blob from the
    * raw gmail/vcf exports joined through lineage. */
  def tag(contacts: DataFrame, lineage: DataFrame, notes: DataFrame,
      confidenceReport: DataFrame,
      s: Tag.TagSettings = Tag.CliDefaultSettings): (DataFrame, DataFrame) = {
    val blobs = Tag.notesBlob(lineage, notes)
    val conf = confidenceReport.select(col("contact_id"), col("confidence_score"))
    val prepared = contacts
      .join(conf, Seq("contact_id"), "left").na.fill("", Seq("confidence_score"))
      .join(blobs, Seq("contact_id"), "left").na.fill("", Seq("notes_blob"))
      .withColumn("emails_arr", emailEntries(col("emails")))
      .withColumn("addresses_arr", addrEntries(col("addresses_json")))
    val tagged = Tag.withTags(
      prepared
        .withColumnRenamed("emails", "emails_csv")
        .withColumnRenamed("emails_arr", "emails")
        .withColumnRenamed("addresses_arr", "addresses"),
      s)
      .withColumnRenamed("emails", "emails_arr")
      .withColumnRenamed("emails_csv", "emails")
      .withColumnRenamed("referral_priority", "referral_priority_score")
    val out = tagged.select(
      (contacts.columns.toIndexedSeq.map(col) :+ col("confidence_score") :+
        col("tags") :+ col("relationship_category") :+
        col("notes_blob") :+ col("referral_priority_score")): _*)
    val targets = out.orderBy(col("referral_priority_score").desc,
      col("confidence_score").desc, col("contact_id"))
    (out, targets)
  }
}

/** `contacts-validate` equivalent: consolidated CSVs in, validation
  * report + scored contacts out.
  * Usage: runMain graft.etl.ValidateMain <outputsDir> [configYamlPath] */
object ValidateMain {
  def run(spark: SparkSession, dir: String, yamlText: Option[String] = None): Unit = {
    val resolved = Config.load(Config.Cli(), yamlText)
    val contacts = Stages.readArtifactCsv(spark, Stages.artifactPath(dir, "consolidated_contacts"))
    val flattened = Stages.readArtifactCsv(spark, Stages.artifactPath(dir, "flattened_contacts"))
    val (report, scored) = Stages.validate(contacts, flattened, resolved.quality)
    // scored joins the contacts to report's metrics. Scoped, report is
    // computed once: the first write fills the cache and the second
    // reads it back instead of re-reading and re-parsing both artifacts.
    graft.Scratch.scoped(report)
    try {
      Artifacts.writeCsv(report, s"$dir/validation_report",
        singleFile = resolved.outputSingleFile)
      Artifacts.writeCsv(scored, s"$dir/contact_quality_scored",
        singleFile = resolved.outputSingleFile)
    } finally graft.Scratch.releaseAll()
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = StageSession.session()
    val t0 = System.nanoTime()
    run(spark, dir, StageSession.yaml(args.lift(1)))
    println(f"validate stage in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    val scored = Stages.readArtifactCsv(spark, Stages.artifactPath(dir, "contact_quality_scored"))
    val s = Score.validationSummary(
      scored.select(col("contact_id"),
        col("email_total").cast("int").as("email_total"),
        col("phone_total").cast("int").as("phone_total"),
        col("addr_total").cast("int").as("addr_total"))).collect()(0)
    println(s"validation summary: $s")
    spark.stop()
  }
}

/** `contacts-confidence` equivalent.
  * Usage: runMain graft.etl.ConfidenceMain <outputsDir> [configYamlPath] */
object ConfidenceMain {
  def run(spark: SparkSession, dir: String, yamlText: Option[String] = None): Unit = {
    val resolved = Config.load(Config.Cli(), yamlText)
    val contacts = Stages.readArtifactCsv(spark, Stages.artifactPath(dir, "consolidated_contacts"))
    val validation = Stages.readArtifactCsv(spark, Stages.artifactPath(dir, "validation_report"))
    val flattened = Stages.readArtifactCsv(spark, Stages.artifactPath(dir, "flattened_contacts"))
    val (report, summary) = Stages.confidence(contacts, validation, flattened)
    Artifacts.writeCsv(report, s"$dir/confidence_report",
      singleFile = resolved.outputSingleFile)
    // Fixed bucket order is part of the artifact contract; re-sorted
    // inside the single output partition (repartition(1) has no
    // ordering guarantee — see Artifacts.writeCsv). The 4-row summary
    // stays single-file in scale mode too: it IS driver-sized.
    Artifacts.writeCsv(summary, s"$dir/confidence_summary",
      sortCols = Seq(when(col("bucket") === "very_high", 0)
        .when(col("bucket") === "high", 1)
        .when(col("bucket") === "medium", 2).otherwise(3)))
  }

  def main(args: Array[String]): Unit = {
    val dir = args(0)
    val spark = StageSession.session()
    val t0 = System.nanoTime()
    run(spark, dir, StageSession.yaml(args.lift(1)))
    println(f"confidence stage in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}

/** `contacts-tag` equivalent.
  * Usage: runMain graft.etl.TagMain <outputsDir> <gmailCsv> <macVcf>
  * (pass "" for a missing source). */
object TagMain {
  def run(spark: SparkSession, dir: String, gmailCsv: String, macVcf: String,
      yamlText: Option[String] = None): Unit = {
    // With a yaml config the tagging lists resolve like the reference's
    // --config path (config.yaml semantics); without one the reference
    // CLI's no-config defaults apply (Tag.CliDefaultSettings).
    val resolved = Config.load(Config.Cli(), yamlText)
    val settings =
      if (yamlText.isDefined) resolved.tagging else Tag.CliDefaultSettings
    val singleFile = resolved.outputSingleFile
    val contacts = Stages.readArtifactCsv(spark, Stages.artifactPath(dir, "consolidated_contacts"))
    val lineage = Stages.readArtifactCsv(spark, Stages.artifactPath(dir, "consolidated_lineage"))
    val confidence = Stages.readArtifactCsv(spark, Stages.artifactPath(dir, "confidence_report"))
    val notes = graft.sources.Sources.gmailNotes(spark, gmailCsv)
      .unionByName(graft.sources.Sources.vcfNotes(spark, macVcf))
    val (tagged, targets) = Stages.tag(contacts, lineage, notes, confidence, settings)
    Artifacts.writeCsv(tagged, s"$dir/tagged_contacts", singleFile = singleFile)
    // referral_targets is a RANKED deliverable: re-assert the ranking
    // inside the single output partition (same keys as Stages.tag's
    // orderBy) so the written order never depends on shuffle fetch
    // order. In scale mode the ranking becomes a global sort whose
    // range-partitioned part-files concatenate to the ranked order.
    if (singleFile)
      Artifacts.writeCsv(targets, s"$dir/referral_targets",
        sortCols = Seq(col("referral_priority_score").desc,
          col("confidence_score").desc, col("contact_id")))
    else
      Artifacts.writeCsv(targets.orderBy(col("referral_priority_score").desc,
          col("confidence_score").desc, col("contact_id")),
        s"$dir/referral_targets", singleFile = false)
  }

  def main(args: Array[String]): Unit = {
    val Array(dir, gmailCsv, macVcf) = args.take(3)
    val spark = StageSession.session()
    val t0 = System.nanoTime()
    run(spark, dir, gmailCsv, macVcf, StageSession.yaml(args.lift(3)))
    println(f"tag stage in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    spark.stop()
  }
}

private[etl] object StageSession {
  def yaml(path: Option[String]): Option[String] = path.filter(_.nonEmpty).map(p =>
    new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8"))

  def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
