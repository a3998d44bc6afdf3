package graft

import graft.pipelines.FieldmapExportJob
import graft.pipelines.FieldmapExportJob.Inputs
import graft.io.Vc
import java.nio.file.Files

/** E1 end-to-end on FIXTURES.md-shaped fixtures: union -> recode ->
  * latest-status -> type resolution -> QA assembly -> versioned write. */
class FieldmapExportJobSpec extends SparkSuite {
  import spark.implicits._

  private def inputs = Inputs(
    gridPointsByCycle = Seq(
      1 -> Seq(
        (1, "2020-01-01", "gedaan"), (1, "2020-06-01", "uitgevoerd"), // latest wins
        (2, "2020-02-01", "gepland")).toDF("plot_id", "date_status", "status_fieldwork"),
      2 -> Seq(
        (1, "2023-01-01", "done"), (3, "2023-03-01", "weird_status"))
        .toDF("plot_id", "date_status", "status_fieldwork")),
    squareObs = Seq((1, "2130")).toDF("plot_id", "type_observed_square"),
    circleObs = Seq((2, 1, "6510"), (2, 2, "6230"), (3, 1, "4030"))
      .toDF("plot_id", "segment_id", "type_observed_circle"),
    coverLong = Seq(
      (1, "herblayer", "CoverVeglayers", Some(1)),
      (2, "herblayer", "CoverVeglayers", Some(9)), // unmatched class -> check frame
      (3, "shrublayer", "CoverVeglayers", None: Option[Int]))
      .toDF("plot_id", "layer", "coverscale_name", "class_id"),
    coverScales = Seq(("CoverVeglayers", 1, "<1%", 0.5))
      .toDF("coverscale_name", "class_id", "cover_description", "cover_mean"),
    observerDates = Seq((1, "2020-06-02"), (2, "2020-02-05"))
      .toDF("plot_id", "date_assessment"))

  test("E1 job: full flow, checks, and versioned outputs") {
    val out = FieldmapExportJob.run(inputs)

    // latest status per (plot, cycle) + recode
    val status = out.sampleStatus
      .select("plot_id", "mon_cycle", "status_fieldwork")
      .as[(Int, Int, String)].collect().toSet
    assert(status === Set((1, 1, "done"), (2, 1, "planned"), (1, 2, "done"), (3, 2, "other")))

    // type resolution: square wins for plot 1; plot 2 mixed
    assert(out.checks("check_mixed_type").as[Int].collect().toSeq === Seq(2))
    assert(out.checks("check_dup_status").count() === 0)
    assert(out.checks("check_unmatched_scale").count() === 1)

    // QA: only plot 3 is incomplete (has a type but no cover record and
    // no assessment date); plot 2's unmatched cover CLASS is a separate
    // check frame, not a missing RECORD
    val qa = out.checkMissingData
      .select("plot_id", "has_type_observed", "has_cover", "has_assessment_date")
      .as[(Int, Boolean, Boolean, Boolean)].collect().map(r => r._1 -> r).toMap
    assert(qa.keySet === Set(3))
    assert(qa(3) === ((3, true, false, false)))

    // versioned write round-trips
    val dir = Files.createTempDirectory("e1").toString
    FieldmapExportJob.write(out, dir)
    assert(Vc.read(spark, s"$dir/sample_status").count() === 4)
    assert(Vc.read(spark, s"$dir/cover_species").count() === 3)
    assert(Vc.read(spark, s"$dir/check_missing_data").count() === 1)
  }

  private def fullInputs = {
    val gp1 = Seq(
      (1, "2020-01-01", "gedaan", null, "openhab"),
      (2, "2020-02-01", "gepland",
        "geen toestemming/geen toegang (eigenaar/hond/vee)", "openhab"),
      (4, "2020-03-01", "gedaan", "100% afgewerkt", "foresthab"))
      .toDF("plot_id", "date_status", "status_fieldwork",
        "info_status_fieldwork", "db")
    val gp2 = Seq((1, "2023-01-01", "done", null.asInstanceOf[String], "openhab_2"))
      .toDF("plot_id", "date_status", "status_fieldwork",
        "info_status_fieldwork", "db")
    FieldmapExportJob.FullInputs(
      core = inputs.copy(gridPointsByCycle = Seq(1 -> gp1, 2 -> gp2),
        coverLong = inputs.coverLong.unionByName(
          Seq((4, "herblayer", "CoverVeglayers", Some(1)))
            .toDF("plot_id", "layer", "coverscale_name", "class_id"))),
      dateRecords = Seq(
        // openhab rows carry date_assessment; forest rows derive it
        (1, 1, None, None, Some("2020-06-02")),
        (1, 1, None, None, Some("2020-06-03")), // same record keys: max wins
        (4, 1, Some("2020-03-05"), Some("2020-03-02"), None))
        .toDF("plot_id", "mon_cycle", "date_vegetation", "date_dendro",
          "date_assessment")
        .select($"plot_id", $"mon_cycle", $"date_vegetation".cast("date"),
          $"date_dendro".cast("date"), $"date_assessment".cast("date")),
      coordinates = Seq((1, 1, 171000.0, 176000.0), (4, 1, 101000.0, 193000.0))
        .toDF("plot_id", "mon_cycle", "x", "y"),
      coverVeglayers = Seq((1, 1, "herblayer", 80.0))
        .toDF("plot_id", "mon_cycle", "layer", "cover"),
      structureVars = Seq((1, 1, 1, "verbossing", 10.0))
        .toDF("plot_id", "segment_id", "mon_cycle", "structure_var", "cover"),
      treesA3a4 = Seq((4, 1, 1, 250.0), (4, 1, 2, 410.0))
        .toDF("plot_id", "segment_id", "tree_id", "dbh_mm"),
      treesA2 = Seq((4, "Zomereik", 12L)).toDF("plot_id", "name_nl", "number"),
      shoots = Seq((4, 1, 1, 95.0)).toDF("plot_id", "tree_id", "shoot_id", "dbh_mm"),
      logs = Seq((4, "A", 18.0)).toDF("plot_id", "idline_intersect_method", "diameter_cm"),
      standdescription = Seq((4, 1, "bos", "40-60", "hooghout", "gemengd"))
        .toDF("plot_id", "segment_id", "landuse", "stand_age", "stand_type", "mix_type"))
  }

  test("E1 full export: all 16 tables, date resolution, assessments recode") {
    val out = FieldmapExportJob.runFull(fullInputs)
    assert(out.tables.keySet.size === 16)

    // date resolution: openhab max-per-record; forest pmin(veg, dendro)
    val ssd = out.tables("sample_status")
      .select("plot_id", "mon_cycle", "date_assessment")
      .as[(Int, Int, java.sql.Date)].collect()
      .map(r => (r._1, r._2) -> r._3.toString).toMap
    assert(ssd((1, 1)) === "2020-06-03")
    assert(ssd((4, 1)) === "2020-03-02")          // least(veg, dendro)
    assert(ssd((2, 1)) === "2020-02-01")          // fallback to date_status
    assert(ssd((1, 2)) === "2023-01-01")          // no record -> date_status

    // forest facts inherit cycle + date through the plot-only join
    val a3a4 = out.tables("trees_a3a4")
    assert(a3a4.count() === 2 &&
      a3a4.select("date_assessment").distinct().as[java.sql.Date].head().toString
        === "2020-03-02")
    assert(out.tables("standdescription")
      .select("variable").distinct().as[String].collect().sorted
      === Array("mix_type", "stand_age", "stand_type"))
    assert(out.tables("shoots").count() === 1 && out.tables("logs").count() === 1)

    // data_overview flags: db-gated nulls vs booleans
    val ov = out.tables("data_overview")
    val p4 = ov.where($"plot_id" === 4).head()
    assert(p4.getAs[Boolean]("a3a4_record") && p4.getAs[Boolean]("dendro_record"))
    assert(p4.isNullAt(p4.fieldIndex("structure_openhab_record")))
    val p1 = ov.where($"plot_id" === 1 && $"mon_cycle" === 1).head()
    assert(p1.isNullAt(p1.fieldIndex("a3a4_record")))
    assert(p1.getAs[Boolean]("structure_openhab_record"))

    // assessments: inaccessible plot 2 kept with the long-term recode;
    // lsvi_measurement from the completed marker
    val asm = out.tables("assessments")
    assert(asm.where($"plot_id" === 2).select("inaccessible").as[String].head()
      === "long term")
    assert(asm.where($"plot_id" === 4).select("lsvi_measurement").as[Boolean].head())

    // openhab QA: plot 2 has no cover record; forest QA: plot 4 complete
    assert(out.tables("check_missing_data_openhab")
      .select("plot_id").as[Int].collect().toSet.contains(2))
    assert(out.tables("check_missing_data_foresthab").count() === 0)

    // all 16 write + reread
    val dir = Files.createTempDirectory("e1full").toString
    FieldmapExportJob.writeFull(out, dir)
    out.tables.keys.foreach { t =>
      assert(Vc.read(spark, s"$dir/$t").count() === out.tables(t).count(), t)
    }
  }
}
