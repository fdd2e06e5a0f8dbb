package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** One 15-minute snapshot's keys; `seq` counts slots from 2026-01-11 00:00. */
final case class SnapshotKey(seq: Int) {
  val day: String = LocalDate.of(2026, 1, 11).plusDays((seq / 96).toLong)
    .format(DateTimeFormatter.BASIC_ISO_DATE)
  val time: String = f"${(seq % 96) / 4}%02d${(seq % 4) * 15}%02d"
  def dir: String = s"${day}_$time"
}

/** What the generator planted in one snapshot, i.e. what a correct
  * pipeline must serve for it.
  *
  * @param objects      stream objects written, duplicates included
  * @param factRows     rows the serving fact must hold (valid, distinct ids)
  * @param notAvailable fact rows whose language was empty (F4)
  * @param categories   distinct category ids among the fact rows
  * @param users        distinct valid user ids of the snapshot
  */
final case class Planted(key: SnapshotKey, objects: Int, factRows: Int,
                         notAvailable: Int, categories: Int, users: Array[Int])

/** A snapshot rendered to shard files, not yet on disk. */
final case class Rendered(planted: Planted, shards: Array[Array[Byte]])

/** Seeded generator of Twitch Helix `/streams` raw envelopes in the shape
  * of `graft.Schemas.rawStream`, one file per ingest worker the way the
  * reference writes them (`{day}_{time}/raw_streams_data_X{shard}X_…json`).
  *
  * Every snapshot derives only from (seed, snapshot seq), so the same seed
  * regenerates byte-identical files in any order.
  *
  * Traffic shape. Taken from the reference's data (BASELINE.md):
  *  - 4,500 tracked categories (one Get Top Games sweep: 4,503 rows);
  *  - shards are the reference's category groups: categories weighted by
  *    their stream count in the previous snapshot (1 when absent), sorted
  *    by weight, packed first-fit into at most 25 groups under a soft cap
  *    of 7,000 streams; a stream lands in its category's group. At 5k
  *    objects this gives one large shard and one small one, as in the
  *    reference's 3,915-object shard of a 3,912-row snapshot. The groups
  *    are packed once per generator, from a seeded prior snapshot.
  * Unverified choices, with no source in the reference:
  *  - category popularity: the cube of a uniform draw, so a few categories
  *    carry most streams;
  *  - the defect rates: non-numeric stream ids (F1) 0.4%, non-numeric user
  *    ids (F1) 0.2%, empty languages (F4) 3%, duplicates into another shard
  *    (D2) 2% of objects;
  *  - users drawn from a pool 1.5x the snapshot size, so most return
  *    across snapshots and the users dimension grows sub-linearly.
  */
final class EnvelopeGen(seed: Long, val objects: Int) {
  private val userPool = objects * 3 / 2
  private val categoryCount = EnvelopeGen.categoryCount
  private val languages = Array("en", "es", "de", "ja", "pt", "fr", "ko", "ru", "it", "zh")

  private def drawCategory(rng: SplittableRandom): Int =
    (math.pow(rng.nextDouble(), 3) * categoryCount).toInt

  /** Shard (category group) of every category, packed from a prior snapshot. */
  private val shardOf: Array[Int] = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L - 1)
    val weight = Array.fill(categoryCount)(0L)
    (0 until objects).foreach(_ => weight(drawCategory(rng)) += 1)
    (0 until categoryCount).foreach(c => weight(c) = math.max(1L, weight(c)))
    val order = (0 until categoryCount).sortBy(c => (-weight(c), (c + 1).toString))
    EnvelopeGen.firstFit(order.map(weight), groups = 25, cap = 7000L)
      .zip(order).sortBy(_._2).map(_._1).toArray
  }
  val shards: Int = shardOf.max + 1

  private def isNumeric(s: String) = s.nonEmpty && s.forall(_.isDigit)

  private def jsonStr(sb: java.lang.StringBuilder, s: String): Unit = {
    sb.append('"')
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case c    => sb.append(c)
    }
    sb.append('"')
  }

  def render(key: SnapshotKey): Rendered = {
    val rng = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + key.seq)
    val bodies = Array.fill(shards)(new java.lang.StringBuilder(objects * 420 / shards + 64))
    val first = Array.fill(shards)(true)
    def emit(shard: Int, obj: String): Unit = {
      if (!first(shard)) bodies(shard).append(',')
      first(shard) = false
      bodies(shard).append(obj)
    }
    var written, fact, notAvailable = 0
    val cats = new java.util.BitSet(categoryCount)
    val users = new java.util.BitSet(userPool)
    var i = 0
    while (i < objects) {
      val u = rng.nextInt(userPool)
      val id =
        if (rng.nextInt(1000) < 4) s"test_${key.seq}_$i" // F1
        else (key.seq.toLong * 10000000L + i).toString
      val userId =
        if (rng.nextInt(1000) < 2) s"u${1000000 + u}" // F1 on the user id
        else (1000000 + u).toString
      val cat = drawCategory(rng)
      val lang = if (rng.nextInt(100) < 3) "" else languages(rng.nextInt(languages.length)) // F4
      val viewers = (10.0 / (rng.nextDouble() + 0.002)).toLong
      val sb = new java.lang.StringBuilder(420)
      sb.append("{\"id\":"); jsonStr(sb, id)
      sb.append(",\"user_id\":"); jsonStr(sb, userId)
      sb.append(",\"user_login\":\"user").append(u).append('"')
      sb.append(",\"user_name\":\"User").append(u).append('"')
      sb.append(",\"game_id\":\"").append(cat + 1).append('"')
      sb.append(",\"game_name\":\"Game ").append(cat + 1).append('"')
      sb.append(",\"type\":\"live\",\"title\":")
      jsonStr(sb, s"stream $i, \"chill\" run #${rng.nextInt(100)} über ✨")
      sb.append(",\"viewer_count\":").append(viewers)
      sb.append(",\"started_at\":\"2026-01-11T").append(f"${rng.nextInt(24)}%02d:${rng.nextInt(60)}%02d:14Z\"")
      sb.append(",\"language\":\"").append(lang).append('"')
      sb.append(",\"thumbnail_url\":\"https://static-cdn.jtvnw.net/previews-ttv/live_user_user")
        .append(u).append("-{width}x{height}.jpg\"")
      sb.append(",\"tag_ids\":[],\"tags\":[\"English\",\"Chill\"],\"is_mature\":")
        .append(rng.nextInt(5) == 0).append('}')
      val obj = sb.toString
      val shard = shardOf(cat)
      emit(shard, obj); written += 1
      if (rng.nextInt(100) < 2) { emit((shard + 1) % shards, obj); written += 1 } // D2
      if (isNumeric(id) && isNumeric(userId)) {
        fact += 1
        if (lang.isEmpty) notAvailable += 1
        cats.set(cat)
        users.set(u)
      }
      i += 1
    }
    val head = s"""{"day_date_id":"${key.day}","time_of_day_id":"${key.time}","data":["""
    val files = bodies.map(b => (head + b.toString + "]}").getBytes(UTF_8))
    val userIds = users.stream().map(_ + 1000000).toArray
    Rendered(Planted(key, written, fact, notAvailable, cats.cardinality(), userIds), files)
  }

  /** Write a rendered snapshot into `rawRoot/{day}_{time}/`. The shards land
    * in a hidden staging directory first and appear with one rename, so a
    * watcher never sees half a snapshot.
    */
  def write(rawRoot: Path, r: Rendered): Path = {
    val key = r.planted.key
    val staging = rawRoot.resolve(s".staging_${key.dir}")
    Files.createDirectories(staging)
    r.shards.zipWithIndex.foreach { case (bytes, s) =>
      Files.write(staging.resolve(s"raw_streams_data_X${s}X_${key.day}_${key.time}.json"), bytes)
    }
    val target = rawRoot.resolve(key.dir)
    Files.move(staging, target, StandardCopyOption.ATOMIC_MOVE)
    target
  }
}

object EnvelopeGen {
  val categoryCount = 4500

  /** The reference's category-group packer, on weights in packing order:
    * the first group whose total stays within `cap`, else the first empty
    * group, else the last of the least loaded. Kept apart from
    * `graft.plans.BinPacking`, which the benchmark measures, so that a
    * change to that packer cannot change the generated inputs.
    */
  def firstFit(weights: Seq[Long], groups: Int, cap: Long): Seq[Int] = {
    val totals = new Array[Long](groups)
    weights.map { w =>
      val fits = totals.indices.find(g => totals(g) + w <= cap || totals(g) == 0L)
      val g = fits.getOrElse(totals.indices.reverse.minBy(totals(_)))
      totals(g) += w
      g
    }
  }

  /** Hex SHA-256 over every shard of the given snapshots, in order. */
  def digest(rs: Seq[Rendered]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rs.foreach(_.shards.foreach(b => md.update(b)))
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }
}
