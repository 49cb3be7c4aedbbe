package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

/** Seeded MeerTRAP day partition and ATNF catalogue snapshot, with the
  * counts the pipelines must reproduce.
  *
  * A day holds `sbs` schedule blocks of `obsPerSb` observations each; every
  * observation is recorded by `hosts` hosts, and each host writes its own
  * run summary listing its beams. One directory per candidate bundle,
  * named `<host>_<processed unix ts>`, holding a copy of its host's run
  * summary (so content-hash dedup removes most of the JSON) and one SPCCL
  * file. Seeded shares of the bundles carry the fault cases of the test
  * fixture: corrupt JSON, 2-line SPCCL files, and keep-first duplicate
  * candidates; some observations have a null `utc_stop`, and every third
  * schedule block has a zero expected duration (script-sum fallback).
  */
object DayGen {

  final case class Shape(bundles: Int, sbs: Int = 3, obsPerSb: Int = 4, hosts: Int = 4,
                         beamsPerHost: Int = 6, corruptShare: Double = 0.03,
                         twoLineShare: Double = 0.02, dupShare: Double = 0.03,
                         nullStopShare: Double = 0.25)

  /** What a correct run of the MeerTRAP pipeline over the day yields. */
  final case class Truth(observations: Long, beams: Long, candidates: Long,
                         candsPerObsMax: Long, corrupt: Long, quarantined: Long) {
    /** `MeertrapPipeline.metrics` keys and values. */
    def metrics: Map[String, Long] = Map(
      "num_obs" -> observations, "num_cands" -> candidates, "beams" -> beams,
      "cands_per_obs_max" -> candsPerObsMax, "corrupt_run_summaries" -> corrupt,
      "quarantined_spccl" -> quarantined)

    /** Row counts of the five frames `meertrap.Main.run` writes. */
    def writtenRows: Map[String, Long] = Map(
      "observation" -> observations, "beam" -> beams, "candidate" -> candidates,
      "corrupt_run_summaries" -> corrupt, "quarantined_spccl" -> quarantined)
  }

  private val utcFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd_HH:mm:ss").withZone(ZoneOffset.UTC)
  private val sbFmt =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSSxxx").withZone(ZoneOffset.UTC)
  private val dayFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd").withZone(ZoneOffset.UTC)
  private val stemFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd_HH-mm-ss").withZone(ZoneOffset.UTC)

  private val obsSeconds = 600L
  private val obsGap = 60L

  private def hostName(h: Int) = s"tpn-0-${h + 1}"

  /** Beam numbers of host `h`: host 0 also records the incoherent beam 0. */
  private def beamsOf(h: Int, s: Shape): Seq[(Int, Boolean)] =
    (if (h == 0) Seq(0 -> false) else Nil) ++
      (0 until s.beamsPerHost).map(i => (1 + h * s.beamsPerHost + i) -> true)

  private def hms(deg: Double): String = {
    val hours = deg / 15.0
    val h = hours.toInt; val m = ((hours - h) * 60).toInt
    f"$h%d:$m%02d:${((hours - h) * 60 - m) * 60}%05.2f"
  }

  private def dms(deg: Double): String = {
    val a = math.abs(deg); val d = a.toInt; val m = ((a - d) * 60).toInt
    f"${if (deg < 0) "-" else ""}$d%d:$m%02d:${((a - d) * 60 - m) * 60}%04.1f"
  }

  private def runSummary(sbId: Long, sbStart: Long, sbDuration: Long, script: String,
                         utcStart: Long, utcStop: Option[Long], host: Int,
                         beams: Seq[(Int, Boolean)]): String = {
    val ip = s"10.8.0.${host + 1}"
    val beamJson = beams.map { case (n, coherent) =>
      val ra = 30.0 + n * 0.25; val dec = -40.0 - n * 0.1
      s"""{"absnum": $n, "coherent": $coherent, "dec_dms": "${dms(dec)}", "mc_ip": "$ip", """ +
        s""""mc_port": 7147, "ra_hms": "${hms(ra)}", "relnum": $n, "source": "J0440-4333"}"""
    }.mkString(",\n      ")
    val stop = utcStop.map(t => "\"" + utcFmt.format(Instant.ofEpochSecond(t)) + "\"").getOrElse("null")
    s"""{
       |  "beams": {
       |    "ca_target_request": {
       |      "beams": ["cfbf00000", "cfbf00001"],
       |      "tilings": [{
       |        "coordinate_type": "equatorial", "epoch": ${utcStart}.395673,
       |        "epoch_offset": 300.0, "method": "variable_size", "nbeams": 780,
       |        "overlap": 0.25, "reference_frequency": 1284000000.0, "shape": "circle",
       |        "target": "J0440-4333, radec gaincal, 4:40:17.07, -43:33:09.0"
       |      }],
       |      "unique_id": null
       |    },
       |    "cb_antennas": ["m000", "m001", "m002"],
       |    "coherent_beam_shape": {"angle": -54.5255677366855, "overlap": 0.25, "x": 0.008135, "y": 0.007491},
       |    "ib_antennas": ["m000"],
       |    "list": [
       |      $beamJson
       |    ]
       |  },
       |  "data": {"bw": 856.0, "cfreq": 1284.0, "nbeam": 768, "nbit": 8,
       |           "nchan": 1024, "npol": 1, "sync_time": 1700000000.0, "tsamp": 0.000306},
       |  "pipeline": {"opaque": true},
       |  "sb_details": {
       |    "id": $sbId, "id_code": "${dayFmt.format(Instant.ofEpochSecond(sbStart)).replace("-", "")}-${sbId % 1000}",
       |    "actual_start_time": "${sbFmt.format(Instant.ofEpochSecond(sbStart))}",
       |    "expected_duration_seconds": $sbDuration,
       |    "proposal_id": "SCI-20231120-XX-01",
       |    "script_profile_config": "$script",
       |    "targets": "[{\\"track_start_offset\\": 32.6, \\"target\\": \\"J0408-6545\\", \\"track_duration\\": 600.0}]"
       |  },
       |  "utc_start": "${utcFmt.format(Instant.ofEpochSecond(utcStart))}",
       |  "utc_stop": $stop,
       |  "version_info": {"app": "0.9"}
       |}
       |""".stripMargin
  }

  /** MJD for a unix instant in milliseconds (40587 = MJD of 1970-01-01). */
  private def mjdOfMillis(ms: Long): Double = ms / 86400000.0 + 40587.0

  private def spcclLine(ms: Long, dm: Double, width: Double, snr: Double,
                        beam: Int, coherent: Boolean, fil: String): String = {
    val mode = if (coherent) "C" else "I"
    f"0\t${mjdOfMillis(ms)}%.11f\t$dm%.1f\t$width%.1f\t$snr%.1f\t$beam\t$mode\t4:40:17.07\t-43:33:09.0\t1\t0.97\t$fil\tplot_$beam$mode.jpg"
  }

  /** Writes day `dayIndex` of the seeded archive under `root/<key>` and
    * returns the partition key with the day's truth.
    */
  def day(root: Path, seed: Long, dayIndex: Int, s: Shape): (String, Truth) = {
    val rnd = new java.util.Random(seed * 1000003L + dayIndex)
    val dayStart = 1700438400L + dayIndex * 86400L // 2023-11-20 00:00:00 UTC onwards
    val key = dayFmt.format(Instant.ofEpochSecond(dayStart))
    val dir = root.resolve(key)
    Files.createDirectories(dir)

    // Observations: start, stop (None = null utc_stop) and their run summaries.
    final case class Obs(start: Long, summaries: IndexedSeq[String])
    val sbSpan = s.obsPerSb * (obsSeconds + obsGap) + obsGap
    val observations = (0 until s.sbs).flatMap { b =>
      // Gaps over an hour: the observation -> schedule-block interval join
      // allows an hour past the estimated end.
      val sbStart = dayStart + 3600L + b * (sbSpan + 4000L)
      val sbId = 79000L + dayIndex * 100L + b
      val zeroDuration = b % 3 == 2
      val script = if (zeroDuration) s"init duration=${sbSpan - 100}\\\\n cal duration=100\\\\n" else ""
      (0 until s.obsPerSb).map { i =>
        val start = sbStart + obsGap + i * (obsSeconds + obsGap)
        val stop = if (rnd.nextDouble() < s.nullStopShare) None else Some(start + obsSeconds)
        Obs(start, (0 until s.hosts).map(h => runSummary(sbId, sbStart,
          if (zeroDuration) 0L else sbSpan, script, start, stop, h, beamsOf(h, s))))
      }
    }

    // Bundles: first one per (observation, host), the rest at random.
    val pairs = for (o <- observations.indices; h <- 0 until s.hosts) yield (o, h)
    require(s.bundles >= pairs.size, s"a day needs at least ${pairs.size} bundles")
    val owners = pairs ++ Seq.fill(s.bundles - pairs.size)(pairs(rnd.nextInt(pairs.size)))
    val firstOfPair = pairs.indices.toSet

    final case class Cand(obs: Int, line: String)
    val usedDirs = scala.collection.mutable.Set.empty[String]
    val usedMs = scala.collection.mutable.Set.empty[Long]
    val emitted = scala.collection.mutable.ArrayBuffer.empty[(Int, Long, String)] // (host, ms, line)
    var corrupt, twoLine = 0
    val cands = scala.collection.mutable.ArrayBuffer.empty[Cand]
    owners.zipWithIndex.foreach { case ((o, h), idx) =>
      val obs = observations(o)
      val roll = rnd.nextDouble()
      val isCorrupt = !firstOfPair(idx) && roll < s.corruptShare
      val isTwoLine = !isCorrupt && rnd.nextDouble() < s.twoLineShare
      val dupOf = if (!isTwoLine && rnd.nextDouble() < s.dupShare)
        emitted.find { case (host, ms, _) => host == h && ms >= obs.start * 1000 &&
          ms < (obs.start + obsSeconds) * 1000 } else None
      var ms = 0L
      do ms = (obs.start + 1) * 1000 + rnd.nextInt(((obsSeconds - 2) * 1000).toInt)
      while (usedMs.contains(ms))
      val (candMs, line) = dupOf match {
        case Some((_, dupMs, dupLine)) => (dupMs, dupLine)
        case None =>
          usedMs += ms
          val (beam, coherent) = beamsOf(h, s)(rnd.nextInt(beamsOf(h, s).size))
          (ms, spcclLine(ms, 20 + rnd.nextInt(20000) / 10.0, 0.5 + rnd.nextInt(300) / 10.0,
            8 + rnd.nextInt(400) / 10.0, beam, coherent, s"$key.fil"))
      }
      var processed = candMs / 1000 + 30 + rnd.nextInt(60)
      while (usedDirs.contains(s"${hostName(h)}_$processed")) processed += 1
      val name = s"${hostName(h)}_$processed"
      usedDirs += name
      val d = dir.resolve(name)
      Files.createDirectories(d)
      val json = if (isCorrupt) { corrupt += 1; s"""{"beams": {"list": [ truncated $name""" }
                 else obs.summaries(h)
      Files.write(d.resolve(s"${key}_${hostName(h)}_run_summary.json"), json.getBytes(UTF_8))
      val stem = s"${stemFmt.format(Instant.ofEpochMilli(candMs))}_beam${idx}"
      val body =
        if (isTwoLine) {
          twoLine += 1
          line + "\n" + spcclLine(candMs + 1, 99.9, 1.0, 9.9, 1, coherent = true, s"$key.fil") + "\n"
        } else {
          // A duplicate is dropped by keep-first dedup: not a candidate.
          if (dupOf.isEmpty) {
            emitted += ((h, candMs, line))
            cands += Cand(o, line)
          }
          line + "\n"
        }
      Files.write(d.resolve(s"$stem.spccl.log"), body.getBytes(UTF_8))
    }
    val beams = pairs.map { case (_, h) => beamsOf(h, s).size.toLong }.sum
    val perObs = cands.groupBy(_.obs).values.map(_.size.toLong)
    (key, Truth(observations = observations.size.toLong, beams = beams, candidates = cands.size.toLong,
      candsPerObsMax = if (perObs.isEmpty) 0L else perObs.max, corrupt = corrupt.toLong,
      quarantined = twoLine.toLong))
  }

  /** ATNF snapshot CSV with `n` uniquely named pulsars; returns its path. */
  def atnfSnapshot(dir: Path, seed: Long, n: Int): Path = {
    val rnd = new java.util.Random(seed ^ 0x5DEECE66DL)
    Files.createDirectories(dir)
    val names = scala.collection.mutable.LinkedHashSet.empty[String]
    val sb = new StringBuilder("NAME,RAJ,DECJ,DM,W50,P0\n")
    while (names.size < n) {
      val raDeg = rnd.nextDouble() * 360.0
      val decDeg = rnd.nextDouble() * 180.0 - 90.0
      val name = f"J${(raDeg / 15).toInt}%02d${((raDeg / 15 % 1) * 60).toInt}%02d" +
        f"${if (decDeg < 0) "-" else "+"}${math.abs(decDeg).toInt}%02d${((math.abs(decDeg) % 1) * 60).toInt}%02d"
      val unique = if (names.contains(name)) name + ('A' + rnd.nextInt(26)).toChar else name
      if (names.add(unique))
        sb.append(f"$unique,${hms(raDeg)},${dms(decDeg)},${rnd.nextInt(100000) / 100.0}%.2f," +
          f"${rnd.nextInt(5000) / 100.0}%.2f,${0.0015 + rnd.nextDouble() * 4}%.6f\n")
    }
    val path = dir.resolve("atnf_snapshot.csv")
    Files.write(path, sb.toString.getBytes(UTF_8))
    path
  }
}
