package graft.engine

import graft.core.{Clip, Geom, RingIndex}
import graft.model.ContourRow
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** Reference point-in-polygon tagging for the specs: broadcast every ring,
  * build one RingIndex per ring and partition, and tag each point by
  * even-odd depth over all rings of ONE contour row (grid, threshold).
  * Points on a ring boundary count as not-inside-nor-outside (verdict 0)
  * and are excluded from the odd count, matching the reference's
  * ring_contains. Rings are tested without their closing point
  * (Clip.openRing): the reference's ring_contains scans the degenerate
  * wrap segment (first == last), which marks the whole horizontal line
  * through the ring's first vertex as "on boundary" — harmless for the
  * reference's hole walk, wrong for point tagging.
  */
object PipReference {

  def pipTag(spark: SparkSession, points: Dataset[(Long, Double, Double)],
             contours: Dataset[ContourRow]): DataFrame = {
    import spark.implicits._
    val polys: Array[(Double, Array[Array[Double]])] = contours.collect().map { c =>
      (c.threshold, c.polygons.flatMap(p => p.exterior +: p.holes).map(Clip.openRing).toArray)
    }
    val bc = spark.sparkContext.broadcast(polys)
    points.mapPartitions { it =>
      val indexed = bc.value.map { case (t, rings) =>
        (t, rings.map(r => (Geom.bbox(r), new RingIndex(r))))
      }
      it.flatMap { case (id, x, y) =>
        indexed.iterator.map { case (t, rings) =>
          var depth = 0
          rings.foreach { case (bb, idx) =>
            if (x >= bb(0) && x <= bb(2) && y >= bb(1) && y <= bb(3) &&
                idx.contains(x, y) == 1) depth += 1
          }
          (id, t, depth % 2 == 1)
        }
      }
    }.toDF("point_id", "threshold", "inside")
  }
}
