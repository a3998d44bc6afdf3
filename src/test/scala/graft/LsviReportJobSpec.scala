package graft

import graft.pipelines.LsviReportJob
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end publish composition ([[LsviReportJob]]): the forest
  * group runs from the published detail-measurement replay to a result
  * directory whose FILE SET matches the reference's
  * `processed/lsvi_mhq/forests/result/` `_fs` family exactly — each
  * table a sorted TSV + git2rdata yml sidecar with the published sort
  * keys — and whose chain/status content matches the published values
  * where they are published.
  *
  * `passend_beheer` is synthesized (the reference draws it from an
  * unpublished management layer) so the `status_beheer` path runs. The
  * continuous `*_dikdoodhout` tables ARE part of the published forests
  * directory (suffix-less, TSV + yml + a write_csv2 CSV twin): the job
  * publishes them from a pooled forests+moneos analysis set (the same
  * construction CensusShapesSpec validates row-for-row against the
  * published n_obs; the measured value itself is outside the
  * reference snapshot, so value columns are shape-level).
  */
class LsviReportJobSpec extends SparkSuite {

  private val refDir = "/root/reference/processed/lsvi_mhq/forests/result"
  private val moneosGlobaal =
    "/root/reference/processed/lsvi_mhq/moneos/result/lsvi_globaal_moneos.tsv"

  /** The published files the forest chain input ([[plots]],
    * [[measurements]], [[meta]]) is read from. */
  private val chainInputs =
    Seq(s"$refDir/lsvi_detail_fs.tsv", s"$refDir/lsvi_plot_fs.tsv")

  /** The published files the [[written]] forests run reads. */
  private val writtenInputs = chainInputs :+ moneosGlobaal

  private def readTsv(name: String): DataFrame =
    spark.read
      .option("sep", "\t").option("header", "true").option("nullValue", "NA")
      .csv(s"$refDir/$name")

  private lazy val pubDetail = readTsv("lsvi_detail_fs.tsv").cache()

  private lazy val measurements =
    pubDetail.select(
      col("id"), col("voorwaarde"), col("waarde"),
      when(col("waarde_numeric").isNotNull, col("waarde").cast("double"))
        .as("value_numeric"),
      when(col("waarde_numeric").isNull, col("waarde")).as("value_category"))

  private lazy val plots =
    pubDetail.select("id", "type_analysis", "survey", "record_id_square",
      "record_id_circle", "type_observed", "plot_type").distinct()

  private lazy val meta =
    readTsv("lsvi_plot_fs.tsv")
      .select(col("id"), col("date").cast("int").as("date"),
        col("point_code"), col("x").cast("double").as("x"),
        col("y").cast("double").as("y"),
        col("in_sac").cast("int").as("in_sac"))
      // synthetic: exercises the status_beheer path (unpublished layer)
      .withColumn("passend_beheer",
        when(abs(hash(col("point_code"))) % 5 < 3, "ja").otherwise("nee"))
      .distinct()

  /** Pooled forest + moneos(91E0_sf) plot visits with a constant fake
    * value — the same construction CensusShapesSpec validates against
    * every published `*_dikdoodhout` row at n_obs level. */
  private lazy val pooledPlots: DataFrame = {
    val fs = readTsv("lsvi_plot_fs.tsv").select(
      col("id"),
      year(date_add(to_date(lit("1970-01-01")),
        col("date").cast("int"))).as("date"),
      col("point_code"), col("habitattype"), col("habitatsubtype"))
    val mo = spark.read
      .option("sep", "\t").option("header", "true").option("nullValue", "NA")
      .csv(moneosGlobaal)
      .where(col("type_analysis") === "91E0_sf")
      .select(col("id"),
        year(to_date(substring_index(col("id"), "_", -1))).as("date"),
        substring_index(col("id"), "_", 1).as("point_code"),
        lit("91E0").as("habitattype"),
        lit("91E0_sf").as("habitatsubtype"))
    // the tree-level inventory does not cover 9110 (the published
    // dikdoodhout tables have no 9110 row; statusContinuous drops
    // unmeasured plots via value IS NOT NULL)
    fs.unionByName(mo).withColumn("value",
      when(col("habitattype") === "9110", lit(null).cast("double"))
        .otherwise(lit(1.0)))
  }

  private lazy val outDir =
    java.nio.file.Files.createTempDirectory("lsvi-report").toString

  private lazy val written = LsviReportJob.run(plots, measurements,
    graft.lsvi.Versie3Forests.rulesDf(spark), meta, outDir,
    LsviReportJob.Config(suffix = "fs"),
    continuous = Some(LsviReportJob.Continuous(pooledPlots,
      "hoeveelheid dik dood hout",
      "aantal exemplaren dik dood hout per ha")))

  test("the written file set matches the published forests directory exactly") {
    assumeFiles(writtenInputs :+ refDir: _*)
    written.size // force the run
    val mine = new java.io.File(outDir).listFiles().map(_.getName).toSet
    // the FULL published directory — the `_fs` family plus the
    // suffix-less dikdoodhout tsv/yml/csv triples; `lsvi_plot_cd`
    // belongs to the coastal-dunes group and is excluded
    val pub = new java.io.File(refDir).listFiles().map(_.getName)
      .filterNot(_.startsWith("lsvi_plot_cd.")).toSet
    assert(mine === pub, s"missing: ${pub -- mine}; extra: ${mine -- pub}")
  }

  test("every sidecar carries the published sort keys (column-filtered)") {
    assumeFiles(writtenInputs: _*)
    written.foreach { case (name, df) =>
      val base = if (name.endsWith("_dikdoodhout")) name else s"${name}_fs"
      val yml = java.nio.file.Files.readString(
        java.nio.file.Paths.get(s"$outDir/$base.yml"))
      val expected = LsviReportJob.sortKeys(name)
        .filter(df.columns.contains)
      val sortingBlock = yml.split("sorting:\n")(1)
        .split("  hash:")(0).split("\n").map(_.trim.stripPrefix("- ")).toSeq
        .filter(_.nonEmpty)
      assert(sortingBlock === expected, s"$name: $sortingBlock vs $expected")
    }
  }

  test("the written chain tables replay the published rows") {
    assumeFiles(writtenInputs :+ s"$refDir/lsvi_globaal_fs.tsv": _*)
    written.size // force the run
    // lsvi_globaal: row-for-row verdict equality with the published table
    val mineG = spark.read
      .option("sep", "\t").option("header", "true").option("nullValue", "NA")
      .csv(s"$outDir/lsvi_globaal_fs.tsv")
    val pubG = readTsv("lsvi_globaal_fs.tsv")
    assert(mineG.count() === pubG.count())
    val badStatus = mineG.alias("m")
      .join(pubG.alias("p"), Seq("id", "type_analysis"))
      .where(!(col("m.status").cast("boolean") <=> col("p.status").cast("boolean")))
      .count()
    assert(badStatus === 0L)
    // lsvi_plot: the published plot table reproduces (ids + verdicts)
    val mineP = spark.read
      .option("sep", "\t").option("header", "true").option("nullValue", "NA")
      .csv(s"$outDir/lsvi_plot_fs.tsv")
    val pubP = readTsv("lsvi_plot_fs.tsv")
    assert(mineP.count() === pubP.count())
    val badPlot = mineP.alias("m").join(pubP.alias("p"), Seq("id"))
      .where(col("m.lsvi") =!= col("p.lsvi") ||
        col("m.habitattype") =!= col("p.habitattype") ||
        col("m.habitatsubtype") =!= col("p.habitatsubtype"))
      .count()
    assert(badPlot === 0L)
  }

  test("a second group (heath/inland dunes) runs end-to-end to the FULL published directory incl. the 5130 census sides") {
    val hDir = "/root/reference/processed/lsvi_mhq/heath_inland_dunes/result"
    assumeFiles(Seq("lsvi_detail_hs_id.tsv", "lsvi_plot_hs_id.tsv",
      "status_habitat_5130.tsv", "status_indicatoren_5130.tsv")
      .map(f => s"$hDir/$f"): _*)
    // same composition, different rule data and suffix — proves the
    // job is group-generic, not forests-shaped; the fully-mapped 5130
    // juniper scrub publishes as habitattype-suffixed census side
    // tables beside the _hs_id family (no 5130 trend tables exist)
    def readH(name: String): DataFrame = spark.read
      .option("sep", "\t").option("header", "true").option("nullValue", "NA")
      .csv(s"$hDir/$name")
    val hDetail = readH("lsvi_detail_hs_id.tsv").cache()
    val hMeasurements = hDetail.select(
      col("id"), col("type_analysis"), col("voorwaarde"), col("waarde"),
      col("plot_type"),
      col("waarde").cast("double").as("value_numeric"),
      lit(null).cast("string").as("value_category"),
      when(col("voorwaarde") === graft.lsvi.Versie3Heath.dynamicVoorwaarde,
        col("referentiewaarde").cast("double")).as("ref_override"))
      .distinct()
    val hPlots = hDetail.select("id", "type_analysis", "survey",
      "record_id_square", "record_id_circle", "type_observed").distinct()
    val hMeta = readH("lsvi_plot_hs_id.tsv")
      .select(col("id"), col("date").cast("int").as("date"), col("point_code"),
        col("x").cast("double").as("x"), col("y").cast("double").as("y"),
        col("in_sac").cast("int").as("in_sac"))
      .withColumn("passend_beheer",
        when(abs(hash(col("point_code"))) % 5 < 3, "ja").otherwise("nee"))
      .distinct()
    val hOut =
      java.nio.file.Files.createTempDirectory("lsvi-report-heath").toString
    LsviReportJob.run(hPlots, hMeasurements,
      graft.lsvi.Versie3Heath.rulesDf(spark), hMeta, hOut,
      LsviReportJob.Config(suffix = "hs_id"),
      census = Seq(LsviReportJob.Census("5130",
        statusHabitat = Some(CensusFixtures.polysFrom(
          readH("status_habitat_5130.tsv"), Nil)),
        statusIndicatoren = Some(CensusFixtures.polysFrom(
          readH("status_indicatoren_5130.tsv"),
          Seq("criterium", "indicator", "belang"))))))
    val mine = new java.io.File(hOut).listFiles().map(_.getName).toSet
    val pub = new java.io.File(hDir).listFiles().map(_.getName).toSet
    assert(mine === pub, s"missing: ${pub -- mine}; extra: ${mine -- pub}")
    // the published 5130 column layouts reproduce exactly (the
    // habitat table renames the interval bounds to *_min/_max; the
    // indicatoren table appends the share + bounds triple)
    for (t <- Seq("status_habitat_5130.tsv", "status_indicatoren_5130.tsv"))
      assert(spark.read.option("sep", "\t").option("header", "true")
        .csv(s"$hOut/$t").columns.toSeq === readH(t).columns.toSeq, t)
  }

  test("the coastal-dunes group publishes the full _cd directory incl. the 2110 census status AND trend sides") {
    val cdDir = "/root/reference/processed/lsvi_mhq/coastal_dunes/result"
    assumeFiles(Seq("lsvi_detail_cd.tsv", "lsvi_plot_cd.tsv",
      "status_habitat_2110.tsv", "status_indicatoren_2110.tsv",
      "trend_habitat_2110.tsv", "trend_indicatoren_2110.tsv")
      .map(f => s"$cdDir/$f"): _*)
    def readCd(name: String): DataFrame = spark.read
      .option("sep", "\t").option("header", "true").option("nullValue", "NA")
      .csv(s"$cdDir/$name")
    val numRe = "^-?[0-9]+(\\.[0-9]+)?$"
    val cdDetail = readCd("lsvi_detail_cd.tsv").cache()
    val cdMeasurements = cdDetail.select(
      col("id"), col("type_analysis"), col("voorwaarde"), col("waarde"),
      col("plot_type"),
      when(col("waarde").rlike(numRe), col("waarde").cast("double"))
        .as("value_numeric"),
      when(!col("waarde").rlike(numRe), col("waarde")).as("value_category"))
      .distinct()
    val cdPlots = cdDetail.select("id", "type_analysis", "survey",
      "record_id_square", "record_id_circle", "type_observed").distinct()
    val cdMeta = readCd("lsvi_plot_cd.tsv")
      .select(col("id"), col("date").cast("int").as("date"), col("point_code"),
        col("x").cast("double").as("x"), col("y").cast("double").as("y"),
        col("in_sac").cast("int").as("in_sac"))
      .withColumn("passend_beheer",
        when(abs(hash(col("point_code"))) % 5 < 3, "ja").otherwise("nee"))
      .distinct()
    val det = Seq("criterium", "indicator", "belang")
    val sh = CensusFixtures.polysFrom(readCd("status_habitat_2110.tsv"), Nil)
      .cache()
    val si = CensusFixtures.polysFrom(
      readCd("status_indicatoren_2110.tsv"), det).cache()
    // the trend slots need two dated mappings; content fidelity of the
    // difference/klasse algebra is CensusShapesSpec's charge — here the
    // same census re-dated exercises the publication path
    val cdOut =
      java.nio.file.Files.createTempDirectory("lsvi-report-cd").toString
    LsviReportJob.run(cdPlots, cdMeasurements,
      graft.lsvi.Versie3Dunes.rulesDf(spark), cdMeta, cdOut,
      LsviReportJob.Config(suffix = "cd"),
      census = Seq(LsviReportJob.Census("2110",
        statusHabitat = Some(sh), statusIndicatoren = Some(si),
        trendHabitat = Some((sh.withColumn("date", lit(2017)),
          sh.withColumn("date", lit(2023)))),
        trendIndicatoren = Some((si.withColumn("date", lit(2017)),
          si.withColumn("date", lit(2023)))))))
    val mine = new java.io.File(cdOut).listFiles().map(_.getName).toSet
    val pub = new java.io.File(cdDir).listFiles().map(_.getName).toSet
    assert(mine === pub, s"missing: ${pub -- mine}; extra: ${mine -- pub}")
    // written census values reproduce the published table (the
    // reconstruction round-trips areas exactly; shares to 1e-3)
    val mineSh = spark.read
      .option("sep", "\t").option("header", "true").option("nullValue", "NA")
      .csv(s"$cdOut/status_habitat_2110.tsv")
    val pubSh = readCd("status_habitat_2110.tsv")
    assert(mineSh.columns.toSeq === pubSh.columns.toSeq)
    val j = mineSh.alias("m").join(pubSh.alias("p"),
      Seq("type_resultaat", "sbzh"))
    assert(j.count() === pubSh.count())
    assert(j.where(
      abs(col("m.aandeel_gunstig").cast("double") -
        col("p.aandeel_gunstig").cast("double")) > 1e-3 ||
      col("m.beoordeling") =!= col("p.beoordeling") ||
      abs(col("m.opp_gunstig_ha").cast("double") -
        col("p.opp_gunstig_ha").cast("double")) > 1e-6).count() === 0)
    // the trend tables carry the published column orders
    for (t <- Seq("trend_habitat_2110.tsv", "trend_indicatoren_2110.tsv"))
      assert(spark.read.option("sep", "\t").option("header", "true")
        .csv(s"$cdOut/$t").columns.toSeq === readCd(t).columns.toSeq, t)
  }

  test("the grassland/marsh group publishes the full _gr_bm directory (the default table set)") {
    val gDir = "/root/reference/processed/lsvi_mhq/grassland_marsh/result"
    assumeFiles(s"$gDir/lsvi_detail_gr_bm.tsv", s"$gDir/lsvi_plot_gr_bm.tsv")
    def readG(name: String): DataFrame = spark.read
      .option("sep", "\t").option("header", "true").option("nullValue", "NA")
      .csv(s"$gDir/$name")
    val numRe = "^-?[0-9]+(\\.[0-9]+)?$"
    val gDetail = readG("lsvi_detail_gr_bm.tsv").cache()
    val gMeasurements = gDetail.select(
      col("id"), col("type_analysis"), col("voorwaarde"), col("waarde"),
      col("plot_type"),
      when(col("waarde").rlike(numRe), col("waarde").cast("double"))
        .as("value_numeric"),
      when(!col("waarde").rlike(numRe), col("waarde")).as("value_category"),
      when(col("voorwaarde") === graft.lsvi.Versie3Grasslands.dynamicVoorwaarde,
        col("referentiewaarde").cast("double")).as("ref_override"))
      .distinct()
    val gPlots = gDetail.select("id", "type_analysis", "survey",
      "record_id_square", "record_id_circle", "type_observed").distinct()
    val gMeta = readG("lsvi_plot_gr_bm.tsv")
      .select(col("id"), col("date").cast("int").as("date"), col("point_code"),
        col("x").cast("double").as("x"), col("y").cast("double").as("y"),
        col("in_sac").cast("int").as("in_sac"))
      .withColumn("passend_beheer",
        when(abs(hash(col("point_code"))) % 5 < 3, "ja").otherwise("nee"))
      .distinct()
    val gOut =
      java.nio.file.Files.createTempDirectory("lsvi-report-gr").toString
    LsviReportJob.run(gPlots, gMeasurements,
      graft.lsvi.Versie3Grasslands.rulesDf(spark), gMeta, gOut,
      LsviReportJob.Config(suffix = "gr_bm"))
    val mine = new java.io.File(gOut).listFiles().map(_.getName).toSet
    val pub = new java.io.File(gDir).listFiles().map(_.getName).toSet
    assert(mine === pub, s"missing: ${pub -- mine}; extra: ${mine -- pub}")
  }

  test("the moneos group publishes its chain-only subset") {
    // the estuary scheme publishes just the four chain tables
    // (`processed/lsvi_mhq/moneos/result/`): tables= drives the subset
    val mDir = "/root/reference/processed/lsvi_mhq/moneos/result"
    assumeFiles(s"$mDir/lsvi_detail_moneos.tsv")
    def readM(name: String): DataFrame = spark.read
      .option("sep", "\t").option("header", "true").option("nullValue", "NA")
      .csv(s"$mDir/$name")
    val numRe = "^-?[0-9]+(\\.[0-9]+)?$"
    val mDetail = readM("lsvi_detail_moneos.tsv").cache()
    val mMeasurements = mDetail.select(
      col("id"), col("type_analysis"), col("voorwaarde"), col("waarde"),
      col("plot_type"),
      when(col("waarde").rlike(numRe), col("waarde").cast("double"))
        .as("value_numeric"),
      when(!col("waarde").rlike(numRe), col("waarde")).as("value_category"))
      .distinct()
    val mPlots = mDetail.select("id", "type_analysis", "survey",
      "record_id_square", "record_id_circle", "type_observed").distinct()
    val mMeta = mPlots.select(col("id")).distinct()
      .withColumn("date", lit(19500))
      .withColumn("point_code", substring_index(col("id"), "_", 1))
      .withColumn("x", lit(0.0)).withColumn("y", lit(0.0))
      .withColumn("in_sac", lit(1))
    val mOut =
      java.nio.file.Files.createTempDirectory("lsvi-report-mo").toString
    LsviReportJob.run(mPlots, mMeasurements,
      graft.lsvi.Versie3Moneos.rulesDf(spark), mMeta, mOut,
      LsviReportJob.Config(suffix = "moneos", tables = Some(Set(
        "lsvi_detail", "lsvi_indicator", "lsvi_criterium", "lsvi_globaal"))))
    val mine = new java.io.File(mOut).listFiles().map(_.getName).toSet
    val pub = new java.io.File(mDir).listFiles().map(_.getName).toSet
    assert(mine === pub, s"missing: ${pub -- mine}; extra: ${mine -- pub}")
  }

  test("the sw mode publishes the standing-water watersurface file set") {
    // the standing-water group publishes the plot table at the
    // WATERSURFACE grain (code_watersurfaces, no coordinates, no
    // doelbereik) plus the ten reporting shapes — no chain tables
    val swDir = "/root/reference/processed/lsvi_mhq/standing_water/result"
    assumeFiles(chainInputs :+ s"$swDir/lsvi_watersurface_sw.tsv": _*)
    val swOut =
      java.nio.file.Files.createTempDirectory("lsvi-report-sw").toString
    val metaWs = meta
      .withColumnRenamed("point_code", "code_watersurfaces")
      .drop("x", "y")
    LsviReportJob.run(plots, measurements,
      graft.lsvi.Versie3Forests.rulesDf(spark), metaWs, swOut,
      LsviReportJob.Config(suffix = "sw",
        plotTable = "lsvi_watersurface",
        tables = Some(LsviReportJob.standingWaterTables)))
    val mine = new java.io.File(swOut).listFiles().map(_.getName).toSet
    val pub = new java.io.File(swDir).listFiles().map(_.getName).toSet
    assert(mine === pub, s"missing: ${pub -- mine}; extra: ${mine -- pub}")
    // the watersurface grain's column order matches the published table
    val mineWs = spark.read.option("sep", "\t").option("header", "true")
      .csv(s"$swOut/lsvi_watersurface_sw.tsv")
    val pubWs = spark.read.option("sep", "\t").option("header", "true")
      .csv(s"$swDir/lsvi_watersurface_sw.tsv")
    assert(mineWs.columns.toSeq === pubWs.columns.toSeq)
  }

  test("the rw mode reproduces the streams-published file set with weighted estimators") {
    val pubDir = "/root/reference/processed/lsvi_mhq/streams/result"
    assumeFiles(chainInputs :+ pubDir: _*)
    // the streams group publishes lsvi_plot + the nine design-weighted
    // reporting shapes as `*_rw` (no chain tables, no status_beheer);
    // run the job in that mode (weights synthetic — the real ones are
    // unpublished) and require the file set to match the reference's
    // streams result directory exactly
    val rwDir = java.nio.file.Files.createTempDirectory("lsvi-report-rw").toString
    val metaW = meta.withColumn("weight",
      ((abs(hash(col("point_code"))) % 4 + 1).cast("double") * 0.25))
    LsviReportJob.run(plots, measurements,
      graft.lsvi.Versie3Forests.rulesDf(spark), metaW, rwDir,
      LsviReportJob.Config(suffix = "rw", weightCol = Some("weight"),
        tables = Some(LsviReportJob.streamsTables)))
    val mine = new java.io.File(rwDir).listFiles().map(_.getName).toSet
    val pub = new java.io.File(pubDir).listFiles().map(_.getName).toSet
    assert(mine === pub, s"missing: ${pub -- mine}; extra: ${mine -- pub}")
  }

  test("the written dikdoodhout tables replay the published analysis sets") {
    assumeFiles(writtenInputs ++ Seq("status_dikdoodhout.tsv",
      "trend_dikdoodhout.tsv").map(f => s"$refDir/$f"): _*)
    written.size // force the run
    val subSet = concat_ws("; ", sort_array(split(col("habitatsubtype"), "; ")))
    for ((base, meanCol, versie) <- Seq(
        ("status_dikdoodhout", "gemiddelde", "Versie 3"),
        ("trend_dikdoodhout", "verschil", "Versie 3.0"))) {
      val mine = spark.read
        .option("sep", "\t").option("header", "true").option("nullValue", "NA")
        .csv(s"$outDir/$base.tsv")
      val pub = readTsv(s"$base.tsv")
      // published column ORDER and label quirks reproduce exactly
      assert(mine.columns.toSeq === pub.columns.toSeq, base)
      assert(mine.select("versie").distinct().collect().map(_.getString(0)).toSeq
        === Seq(versie), base)
      assert(mine.count() === pub.count(), base)
      val j = pub
        .select(col("type_resultaat"), col("habitattype"),
          subSet.as("sub_set"), col("n_obs").cast("long").as("pub_n"),
          col(s"${meanCol}_llci").isNull.as("pub_na"))
        .join(mine.select(col("type_resultaat"), col("habitattype"),
          subSet.as("sub_set"), col("n_obs").cast("long").as("n_obs"),
          col(s"${meanCol}_llci").isNull.as("my_na")),
          Seq("type_resultaat", "habitattype", "sub_set"), "left")
      assert(j.where(col("n_obs").isNull).count() === 0, s"$base: missing rows")
      assert(j.where(col("n_obs") =!= col("pub_n")).count() === 0, s"$base: n_obs")
      assert(j.where(col("pub_na") =!= col("my_na")).count() === 0,
        s"$base: interval NA rule")
      // the CSV twin: same rows, true decimal commas, NA nulls
      val csv = java.nio.file.Files.readAllLines(
        java.nio.file.Paths.get(s"$outDir/$base.csv"))
      assert(csv.size() - 1 === pub.count(), s"$base.csv rows")
      assert(csv.get(0) === pub.columns.mkString(";"), s"$base.csv header")
      assert(csv.stream().skip(1).anyMatch(_.matches(".*;\\d+,\\d{4}.*")),
        s"$base.csv decimal commas")
    }
  }

  test("the written status tables carry the validated stratum estimates") {
    assumeFiles(writtenInputs :+ s"$refDir/status_habitat_fs.tsv": _*)
    written.size // force the run
    // status_habitat stratum rows are plain proportions: the written
    // file must agree with the published single-subtype stratum rows
    val mine = spark.read
      .option("sep", "\t").option("header", "true").option("nullValue", "NA")
      .csv(s"$outDir/status_habitat_fs.tsv")
    val pub = readTsv("status_habitat_fs.tsv")
      .where(!col("habitatsubtype").contains(";") &&
        col("sbzh").isin("Binnen", "Buiten"))
    val joined = mine.alias("m").join(pub.alias("p"),
      col("m.habitattype") === col("p.habitatsubtype") &&
        col("m.sbzh") === col("p.sbzh"))
    assert(joined.count() === pub.count())
    val bad = joined.where(
      col("m.n_obs").cast("long") =!= col("p.n_obs").cast("long") ||
        abs(col("m.aandeel_gunstig").cast("double") -
          col("p.aandeel_gunstig").cast("double")) > 0.005)
      .count()
    assert(bad === 0L)
  }

  test("opt-in partitionBy publishes a pruning-capable partitioned twin") {
    assumeFiles(writtenInputs: _*)
    // the 100x-scale publish path: the plot table (the only published
    // table whose size scales with plot count) routed through
    // Vc.writePartitioned by habitattype; same chain, same rows as the
    // single-file contract, but the file listing prunes under a
    // habitattype filter (VcPartitionedSpec pins the IO mechanics —
    // this pins the JOB-level routing)
    written.size // force the single-file baseline run
    val pOut = java.nio.file.Files.createTempDirectory("lsvi-report-part").toString
    LsviReportJob.run(plots, measurements,
      graft.lsvi.Versie3Forests.rulesDf(spark), meta, pOut,
      LsviReportJob.Config(suffix = "fs",
        tables = Some(Set("lsvi_plot")),
        partitionBy = Map("lsvi_plot" -> Seq("habitattype"))))
    assert(new java.io.File(pOut).listFiles().map(_.getName).toSet
      === Set("lsvi_plot_fs"))
    val nParts = new java.io.File(s"$pOut/lsvi_plot_fs").listFiles()
      .count(_.getName.startsWith("habitattype="))
    assert(nParts >= 2, s"expected >=2 habitattype partitions, saw $nParts")
    // verified read restores sidecar order and matches the single-file
    // twin row-for-row
    val back = graft.io.Vc.readPartitioned(spark, s"$pOut/lsvi_plot_fs")
    val single = spark.read
      .option("sep", "\t").option("header", "true").option("nullValue", "NA")
      .csv(s"$outDir/lsvi_plot_fs.tsv")
    assert(back.columns.toSeq === single.columns.toSeq)
    assert(back.count() === single.count())
    val singleTyped = single.select(back.schema.map(f =>
      col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    val mismatches = back.exceptAll(singleTyped).count()
    assert(mismatches === 0L, s"$mismatches rows differ from the single-file twin")
    // a habitattype filter prunes the partition listing
    assert(graft.io.Vc.prunesPartitions(
      back.where(col("habitattype") === "9110")))
  }
}
