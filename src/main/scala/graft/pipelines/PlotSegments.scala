package graft.pipelines

import graft.geo.GeoFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** K1 plot/segment geometry kernel (SURVEY.md §2.10;
  * `/root/reference/src/export_from_fieldmap/calc_plot_segment_area.Rmd:48-105`):
  * per plot, a 9 m-radius circle (a3) centered on the plot origin is
  * intersected with each segment polygon; a4 is the full segment area;
  * per-plot weights are each segment's share of the summed areas.
  *
  * The reference loops over plots in R with GEOS calls; here it is one
  * narrow pass with the exact circle-clip expression + one window (W5)
  * for the weights — distributes over any number of plots with a
  * single shuffle on plot_id.
  */
object PlotSegments {

  /** `segments`: (plot_id, segment_id, ring array<struct<x,y>>) in the
    * plot-local frame (circle centered at origin, as in the reference's
    * shapefile layer). Adds a3/a4 areas and plot-level weights. */
  def withAreas(segments: DataFrame, radiusA3: Double = 9.0): DataFrame = {
    val byPlot = Window.partitionBy("plot_id")
    segments
      .withColumn("area_a3_m2",
        GeoFunctions.circleClipArea(col("ring"), lit(0.0), lit(0.0), radiusA3))
      .withColumn("area_a4_m2", GeoFunctions.ringArea(col("ring")))
      .withColumn("area_a3_m2_plot", sum(col("area_a3_m2")).over(byPlot))
      .withColumn("area_a4_m2_plot", sum(col("area_a4_m2")).over(byPlot))
      .withColumn("segment_weight_a3",
        when(col("area_a3_m2_plot") > 0, col("area_a3_m2") / col("area_a3_m2_plot")))
      .withColumn("segment_weight_a4",
        when(col("area_a4_m2_plot") > 0, col("area_a4_m2") / col("area_a4_m2_plot")))
  }
}
