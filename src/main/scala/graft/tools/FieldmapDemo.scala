package graft.tools

import graft.core.GraftSession
import graft.io.{Csv2, Vc}
import graft.pipelines.{Fieldmap, IncrementalUpdate}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Runnable walkthrough of the E1 minimal slice (SURVEY.md §7.2):
  * semicolon-CSV dictionary -> melt -> broadcast cover-scale join ->
  * versioned write -> S10 guarded incremental append.
  *
  *   sbt "runMain graft.tools.FieldmapDemo /tmp/fm_demo"
  */
object FieldmapDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/fm_demo")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    val spark = GraftSession(
      extra = Map("spark.sql.warehouse.dir" -> s"$dir/warehouse"))
    import spark.implicits._

    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$dir/cover_scales.csv"),
      "coverscale_name;class_id;cover_description;cover_mean\n" +
        "CoverVeglayers;1;<1%;0,5\nCoverVeglayers;2;1-5%;2,5\n")
    val dict = Csv2.read(spark, s"$dir/cover_scales.csv", StructType(Seq(
      StructField("coverscale_name", StringType), StructField("class_id", IntegerType),
      StructField("cover_description", StringType), StructField("cover_mean", DoubleType))))

    val vegpq = Seq((101, 1, Some(1), Some(2)), (102, 1, Some(2), Option.empty[Int]))
      .toDF("plot_id", "segment_id", "herblayer", "shrublayer")
    val long = Fieldmap.meltVegLayers(vegpq, Seq("plot_id", "segment_id"),
        Seq("herblayer", "shrublayer"))
      .withColumn("coverscale_name", lit("CoverVeglayers"))
    val joined = Fieldmap.joinCoverScale(long, dict)

    Vc.write(joined.where(col("class_id").isNotNull), s"$dir/covers",
      Seq("plot_id", "layer"))
    println("=== covers.tsv ===")
    print(java.nio.file.Files.readString(java.nio.file.Paths.get(s"$dir/covers.tsv")))

    IncrementalUpdate.applyToVc(spark, s"$dir/covers",
      Seq((103, 1, "herblayer", 1, "CoverVeglayers", "<1%", 0.5))
        .toDF("plot_id", "segment_id", "layer", "class_id",
          "coverscale_name", "cover_description", "cover_mean"),
      keys = Seq("plot_id", "layer"), sortKeys = Seq("plot_id", "layer"))
    println(s"=== after S10 append: ${Vc.read(spark, s"$dir/covers").count()} rows ===")

    try {
      IncrementalUpdate.applyToVc(spark, s"$dir/covers",
        Seq((103, 1, "herblayer", 2, "CoverVeglayers", "1-5%", 2.5))
          .toDF("plot_id", "segment_id", "layer", "class_id",
            "coverscale_name", "cover_description", "cover_mean"),
        keys = Seq("plot_id", "layer"), sortKeys = Seq("plot_id", "layer"))
      println("=== ERROR: overlap was NOT rejected ===")
    } catch {
      case e: Throwable => println(s"=== overlap rejected as expected: ${e.getMessage.take(90)}")
    }

    // full E1 job composition on the same fixture shapes
    val out = graft.pipelines.FieldmapExportJob.run(graft.pipelines.FieldmapExportJob.Inputs(
      gridPointsByCycle = Seq(
        1 -> Seq((101, "2020-01-01", "gedaan"), (102, "2020-02-01", "gepland"))
          .toDF("plot_id", "date_status", "status_fieldwork")),
      squareObs = Seq((101, "2130")).toDF("plot_id", "type_observed_square"),
      circleObs = Seq((102, 1, "6510")).toDF("plot_id", "segment_id", "type_observed_circle"),
      coverLong = long.select("plot_id", "layer", "coverscale_name", "class_id"),
      coverScales = dict,
      observerDates = Seq((101, "2020-01-02")).toDF("plot_id", "date_assessment")))
    graft.pipelines.FieldmapExportJob.write(out, s"$dir/e1")
    println(s"=== E1 job: sample_status=${out.sampleStatus.count()} rows, " +
      s"missing-data QA=${out.checkMissingData.count()} rows, " +
      s"checks=${out.checks.keys.toSeq.sorted.mkString(",")} ===")

    // co-located storage: bucketed write + shuffle-free join
    graft.io.Bucketed.write(joined.where(col("class_id").isNotNull)
      .select("plot_id", "layer", "cover_mean"), "demo_covers", 4, Seq("plot_id"))
    graft.io.Bucketed.write(out.sampleStatus.select("plot_id", "status_fieldwork"),
      "demo_status", 4, Seq("plot_id"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val coloc = graft.io.Bucketed.table(spark, "demo_covers")
      .join(graft.io.Bucketed.table(spark, "demo_status"), Seq("plot_id"))
    println(s"=== bucketed join shuffle-free=${graft.io.Bucketed.isShuffleFree(coloc)}, " +
      s"rows=${coloc.count()} ===")

    // S1/S2: source registry with a real JDBC database (embedded Derby)
    val derbyUrl = s"jdbc:derby:$dir/db;create=true"
    val conn = java.sql.DriverManager.getConnection(derbyUrl)
    val st = conn.createStatement()
    st.execute("CREATE TABLE grid_points (plot_id INT, status_fieldwork VARCHAR(20))")
    st.execute("INSERT INTO grid_points VALUES (201, 'done'), (202, 'planned')")
    st.close(); conn.close()
    val registry = graft.core.SourceRegistry(Map(
      "grid_points" -> graft.core.JdbcTableSource(s"jdbc:derby:$dir/db", "grid_points")))
    println(s"=== registry jdbc read: ${registry.load(spark, "grid_points").count()} rows ===")
    spark.stop()
  }
}
