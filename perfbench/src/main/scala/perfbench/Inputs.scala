package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded inputs of the `clearmap` workload: a MOH-shaped raw dump and
  * its polygon layer. The same seed always gives byte-identical files;
  * the engine only ever sees the files written here. (The registry
  * workload's tables come from `gen_tables.py`.) */
object Inputs {

  // --------------------------------------------------------------- MOH dump

  /** Sizing of the generated MOH dump. */
  final case class Moh(cities: Int, maxAreas: Int, days: Int, vertices: Int)

  /** Column order of the raw MOH dump: 21 columns, of which the
    * reference reads 8 by position and drops 13 unread. */
  val MohColumns: Seq[String] = Seq("row_id", "city", "city_name", "area",
    "area_name", "date", "week", "cases", "recovered", "deaths", "tests",
    "positive_tests", "vaccine", "vaccine_2", "vaccine_3", "new_case",
    "new_vaccine", "region", "district", "source", "updated")
  val MohKept: Seq[String] = Seq("city", "area", "date", "cases", "new_case",
    "tests", "vaccine", "new_vaccine")

  /** Writes `moh.csv` (the raw dump) and `areas.geojson` (the polygon
    * layer) under `dir`; returns the raw row count.
    *
    * City kinds, by city number modulo 10:
    *  - 0: area-0 rows only, several disjoint shape areas (reconcile
    *    case 3: dissolve, MultiPolygon convex hull);
    *  - 1: real areas plus stray area-0 rows (case 2);
    *  - 9: shape rows only, no data rows (unmatched shapes, dropped);
    *  - others: real areas only.
    * Every series starts with a `<15` censor run; some areas start
    * late (fewer than 7 dates); some vaccinate past their population;
    * city 7 (and every 50th after it) has three empty-city rows (purged).
    * The shape of the dump — areas per city, series lengths, which areas
    * are short or over-vaccinated — is fixed, so every seed costs the
    * same work; the seed sets the values and the polygons. */
  def writeMoh(dir: Path, seed: Long, m: Moh): Long = {
    val rnd = new java.util.SplittableRandom(seed * 7919 + 17)
    val start = java.time.LocalDate.of(2021, 1, 1)
    val csv = new StringBuilder(m.cities * m.maxAreas * m.days * 90)
    csv.append(MohColumns.mkString(",")).append('\n')
    val feats = Seq.newBuilder[String]
    var rows = 0L
    def emit(city: String, area: Int, d: Int, cum: Long, tests: Long,
             vacc: Long, newCase: Boolean, newVacc: Boolean): Unit = {
      def censor(v: Long) = if (v < 15) "<15" else v.toString
      val date = start.plusDays(d)
      csv.append(rows).append(',').append(city).append(",c").append(city)
        .append(',').append(area).append(",a").append(area).append(',')
        .append(date).append(',').append(d / 7).append(',')
        .append(censor(cum)).append(",0,0,").append(tests).append(",0,")
        .append(censor(vacc)).append(",0,0,")
        .append(if (newCase) "TRUE" else "FALSE").append(',')
        .append(if (newVacc) "TRUE" else "FALSE").append(",r,d,moh,")
        .append(date).append('\n')
      rows += 1
    }
    for (city <- 1 to m.cities) {
      val kind = city % 10
      val nAreas = 2 + city % (m.maxAreas - 1)
      val pops = (1 to nAreas).map(_ => 2000 + rnd.nextInt(40000))
      val ranks = (1 to nAreas).map(a =>
        if ((city + a) % 8 == 0) None else Some(1 + rnd.nextInt(10)))
      // shape layer: one polygon per area, disjoint cells on a grid
      for (a <- 1 to nAreas) {
        val id = city * 10000L + a
        val (cx, cy) = (city * 10.0 + a * 2.0, (city % 7) * 10.0 + (a % 2) * 3.0)
        feats += feature(id, city, a, pops(a - 1), ranks(a - 1),
          star(cx, cy, 0.9, m.vertices, rnd))
      }
      if (kind != 9) {
        val dataAreas: Seq[Int] = kind match {
          case 0 => Seq(0)
          case 1 => 0 +: (1 to nAreas)
          case _ => 1 to nAreas
        }
        for (a <- dataAreas) {
          val first = if ((city * 7 + a) % 25 == 0) m.days - 1 - (city + a) % 6
            else (city * 3 + a * 5) % 20
          val rate = 0.5 + rnd.nextDouble() * 20
          val vRate = if ((city + a) % 6 == 0) 500.0 else rate * 3
          var cum = 0L; var tests = 0L; var vacc = 0L
          for (d <- first until m.days) {
            val nc = (rnd.nextDouble() * 2 * rate).toLong
            val nv = (rnd.nextDouble() * 2 * vRate).toLong
            cum += nc; tests += nc * 8 + rnd.nextInt(30); vacc += nv
            emit(city.toString, a, d, cum, tests, vacc, nc > 0, nv > 0)
          }
        }
      }
      if (city % 50 == 7) // a short run of null-city noise rows
        (0 until 3).foreach(d => emit("", 0, d, 20, 5, 20, newCase = true,
          newVacc = false))
    }
    Files.write(dir.resolve("moh.csv"), csv.toString.getBytes(StandardCharsets.UTF_8))
    Files.write(dir.resolve("areas.geojson"),
      feats.result().mkString("{\"type\":\"FeatureCollection\",\"features\":[",
        ",\n", "]}").getBytes(StandardCharsets.UTF_8))
    rows
  }

  private def feature(id: Long, city: Int, area: Int, pop: Int,
                      rank: Option[Int], ring: String): String =
    s"""{"type":"Feature","properties":{"id":$id,"city":$city,"area":$area,""" +
      s""""name":"city_$city","areas_name":"area_${city}_$area","pop":$pop.0,""" +
      s""""rank":${rank.fold("null")(r => s"$r.0")}},""" +
      s""""geometry":{"type":"Polygon","coordinates":[$ring]}}"""

  /** Star-shaped simple polygon ring (counter-clockwise, closed). */
  private def star(cx: Double, cy: Double, r: Double, n: Int,
                   rnd: java.util.SplittableRandom): String = {
    val pts = (0 until n).map { i =>
      val t = 2 * math.Pi * i / n
      val rr = r * (0.6 + 0.4 * rnd.nextDouble())
      "[%.5f,%.5f]".formatLocal(java.util.Locale.ROOT, cx + rr * math.cos(t), cy + rr * math.sin(t))
    }
    (pts :+ pts.head).mkString("[", ",", "]")
  }

  /** The batch's ingest step: the raw dump's 8 kept columns, renamed
    * by position, and the polygon layer through the engine's reader. */
  def readMoh(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val raw = spark.read.option("header", "true").csv(s"$dir/moh.csv")
    val kept = raw.select(MohKept.map(c => raw.col(c)): _*)
    (graft.ops.CleanOps.renameAll(kept, MohKept),
      graft.io.GeoJsonIO.read(spark, s"$dir/areas.geojson"))
  }
}
