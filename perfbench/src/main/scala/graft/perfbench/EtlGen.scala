package graft.perfbench

import java.time.LocalDate

import scala.util.Random

/** Seeded inputs for the `nightly_etl` workload, in the shapes the daily
  * pipeline reads: a playlist page per day and the tracks-lookup JSON
  * for its top 10. Each day `k` songs (1 to 3) leave the chart and as
  * many enter, the survivors drift by adjacent swaps, and artists come
  * from a small shared pool, so songs share artists. The generator
  * also predicts what the committed store and the rendered README must
  * show, and draws the ascending document-id cut points of the daily
  * corpus fold. Same seed, same inputs. */
object EtlGen {
  val TopN = 10

  final case class Track(id: String, isrc: String, name: String,
      artists: Seq[(String, String)], durationMs: Int, explicit: Boolean)

  /** One day: the chart in rank order, plus songs listed on the page
    * below the top 10 (the pipeline must ignore them). */
  final case class Day(date: LocalDate, chart: Seq[Track], below: Seq[Track])

  final case class StoreCounts(artists: Long, songs: Long, maps: Long, rankings: Long)

  private val ArtistPool = 12

  def days(seed: Long, n: Int, start: LocalDate): Seq[Day] = {
    val rng = new Random(seed)
    var next = 0
    def newTrack(): Track = {
      next += 1
      val first = rng.nextInt(ArtistPool)
      val artistIdx =
        if (rng.nextDouble() < 0.3) Seq(first, (first + 1 + rng.nextInt(ArtistPool - 1)) % ArtistPool)
        else Seq(first)
      Track(f"trk$next%06d", f"QZBNC$next%07d", s"Song $next",
        artistIdx.map(a => (f"art$a%03d", s"Artist $a")),
        150000 + rng.nextInt(120000), rng.nextBoolean())
    }
    val out = Seq.newBuilder[Day]
    var chart = Vector.fill(TopN)(newTrack())
    for (d <- 0 until n) {
      if (d > 0) {
        val k = 1 + rng.nextInt(3)
        val leaving = rng.shuffle((0 until TopN).toList).take(k).toSet
        var survivors = chart.zipWithIndex.filterNot(p => leaving(p._2)).map(_._1)
        for (i <- 0 until survivors.length - 1 if rng.nextDouble() < 0.3) {
          val s = survivors
          survivors = s.updated(i, s(i + 1)).updated(i + 1, s(i))
        }
        val entering = Vector.fill(k)(newTrack())
        chart = entering.foldLeft(survivors) { (c, t) =>
          val at = rng.nextInt(c.length + 1)
          (c.take(at) :+ t) ++ c.drop(at)
        }
      }
      val below = Seq(newTrack(), newTrack())
      out += Day(start.plusDays(d.toLong), chart, below)
    }
    out.result()
  }

  def playlistHtml(day: Day): String =
    (day.chart ++ day.below).map(t =>
      s"""<meta name="music:song" content="https://open.spotify.com/track/${t.id}"/>""")
      .mkString("<html><head>\n", "\n", "\n</head><body></body></html>\n")

  def tracksJson(day: Day): String = {
    def q(s: String) = "\"" + s + "\""
    day.chart.map { t =>
      val artists = t.artists.map { case (id, name) =>
        s"""{"id":${q(id)},"name":${q(name)}}""" }.mkString("[", ",", "]")
      s"""{"external_ids":{"isrc":${q(t.isrc)}},"artists":$artists,""" +
        s""""duration_ms":${t.durationMs},"explicit":${t.explicit},""" +
        s""""external_urls":{"spotify":"https://open.spotify.com/track/${t.id}"},""" +
        s""""name":${q(t.name)}}"""
    }.mkString("""{"tracks":[""", ",", "]}")
  }

  /** What the committed store holds after `days` have been loaded. */
  def storeCounts(days: Seq[Day]): StoreCounts = {
    val songs = days.flatMap(_.chart).distinctBy(_.isrc)
    StoreCounts(
      artists = songs.flatMap(_.artists.map(_._1)).distinct.length.toLong,
      songs = songs.length.toLong,
      maps = songs.map(_.artists.length.toLong).sum,
      rankings = days.map(_.chart.length.toLong).sum)
  }

  /** The delta glyph of each rank of `cur`, given the previous day. */
  def glyphs(prev: Option[Day], cur: Day): Seq[String] = {
    val before = prev.map(_.chart.map(_.isrc).zipWithIndex.toMap).getOrElse(Map.empty)
    cur.chart.zipWithIndex.map { case (t, i) =>
      before.get(t.isrc) match {
        case None => "new"
        case Some(j) if j > i => s"+${j - i}"
        case Some(j) if j < i => s"${j - i}"
        case _ => "—"
      }
    }
  }

  /** Ascending cut points over the sorted `docIds`: day `d` folds the
    * documents with id in (cut(d-1), cut(d)], day 1 from the start. The
    * mean batch is `docIds.length / days`, jittered by the seed. */
  def cuts(seed: Long, docIds: Seq[Long], days: Int): Seq[Long] = {
    val ids = docIds.sorted.toIndexedSeq
    require(ids.length >= days, s"${ids.length} documents cannot fill $days days")
    val rng = new Random(seed ^ 0x5eedL)
    val mean = ids.length.toDouble / days
    val ends = (1 to days).map { d =>
      val jitter = if (d == days) 0.0 else (rng.nextDouble() - 0.5) * 0.5 * mean
      math.round(d * mean + jitter).toInt
    }
    ends.scanLeft(0)((prev, e) => math.min(ids.length, math.max(prev + 1, e))).tail
      .map(e => ids(e - 1))
  }
}
