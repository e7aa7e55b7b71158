package graft.perfbench

import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite

import graft.report.Render

class EtlGenSpec extends AnyFunSuite {
  private val start = LocalDate.of(2026, 1, 1)
  private def inputs(seed: Long) = {
    val days = EtlGen.days(seed, 12, start)
    (days.map(EtlGen.playlistHtml), days.map(EtlGen.tracksJson),
      EtlGen.cuts(seed, (1L to 500L).map(_ * 3), 10))
  }

  test("the same seed gives the same inputs; another seed gives others") {
    assert(inputs(7) == inputs(7))
    assert(inputs(7) != inputs(8))
  }

  test("each day 1 to 3 songs leave and as many enter; the chart stays 10 long") {
    val days = EtlGen.days(11, 30, start)
    assert(days.map(_.date) == (0 until 30).map(i => start.plusDays(i.toLong)))
    for (Seq(a, b) <- days.sliding(2)) {
      assert(b.chart.length == EtlGen.TopN)
      val entered = b.chart.map(_.isrc).toSet -- a.chart.map(_.isrc)
      assert(entered.size >= 1 && entered.size <= 3)
      assert(b.below.forall(t => !b.chart.contains(t)))
    }
  }

  test("artists are shared between songs") {
    val songs = EtlGen.days(3, 10, start).flatMap(_.chart).distinctBy(_.isrc)
    val byArtist = songs.flatMap(s => s.artists.map(_._1 -> s.isrc)).groupBy(_._1)
    assert(byArtist.exists(_._2.map(_._2).distinct.length > 1))
    val c = EtlGen.storeCounts(EtlGen.days(3, 10, start))
    assert(c.songs == songs.length && c.rankings == 100 && c.maps >= c.songs && c.artists < c.songs)
  }

  test("cut points ascend and cover every document") {
    val ids = (1L to 500L).map(_ * 3)
    for (seed <- 1L to 20L) {
      val cuts = EtlGen.cuts(seed, ids.reverse, 10)
      assert(cuts.length == 10 && cuts.last == ids.last)
      assert(cuts.sliding(2).forall { case Seq(a, b) => a < b })
      assert(cuts.forall(ids.contains))
    }
    assert(EtlGen.cuts(1, ids, 10) != EtlGen.cuts(2, ids, 10))
  }

  test("predicted glyphs read back from a rendered README") {
    val days = EtlGen.days(5, 3, start)
    val glyphs = EtlGen.glyphs(Some(days(1)), days(2))
    assert(EtlGen.glyphs(None, days(0)) == Seq.fill(10)("new"))
    assert(glyphs.count(_ == "new") >= 1)
    def delta(g: String) = g match {
      case "new" => None
      case "—" => Some(0)
      case s => Some(s.toInt)
    }
    val rows = days(2).chart.zip(glyphs).map { case (t, g) =>
      Render.SongRow(t.name, s"https://open.spotify.com/track/${t.id}", None, delta(g)) }
    val md = Render.readme("Saturday, January 3, 2026", rows, Nil)
    assert(NightlyWorkload.spotifyGlyphs(md) == glyphs)
  }
}
