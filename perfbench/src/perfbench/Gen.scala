package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded name/address vocabulary with Zipf-skewed draws, so common names
  * and streets repeat the way they do in a real voter file (this is what
  * makes trigram posting lists fat and exact name+zip keys collide). */
final class Vocab(seed: Long) {
  private val rnd = new SplittableRandom(seed ^ 0x5bd1e995L)
  private val onsets = Array("b", "c", "d", "f", "g", "h", "j", "k", "l", "m",
    "n", "p", "r", "s", "t", "v", "w", "br", "ch", "cl", "dr", "gr", "sh",
    "st", "th", "tr")
  private val vowels = Array("a", "e", "i", "o", "u", "ai", "ea", "ie", "ou")
  private val codas = Array("", "n", "r", "s", "l", "th", "rd", "nd", "ck",
    "son", "ton", "ley", "man", "ez", "er")

  private def word(minSyl: Int, maxSyl: Int): String = {
    val n = minSyl + rnd.nextInt(maxSyl - minSyl + 1)
    val sb = new StringBuilder
    (0 until n).foreach { i =>
      sb.append(onsets(rnd.nextInt(onsets.length)))
      sb.append(vowels(rnd.nextInt(vowels.length)))
      if (i == n - 1) sb.append(codas(rnd.nextInt(codas.length)))
    }
    sb.toString.toUpperCase
  }

  private def distinct(n: Int, mk: => String): Array[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) seen += mk
    seen.toArray
  }

  val firstNames: Array[String] = distinct(400, word(1, 3))
  val lastNames: Array[String] = distinct(3000, word(2, 3))
  val streets: Array[String] = distinct(600, word(1, 2))
  val streetTypes = Array("ST", "AVE", "RD", "LN", "DR", "CT", "WAY", "BLVD", "PL")
  val cities: Array[String] = distinct(80, word(2, 3))
  val zips: Array[String] = (0 until 300).map(i => f"${10000 + i * 37}%05d").toArray
  val parties = Array("DEM", "REP", "IND", "LIB", "GRN", "UNA")

  private def cdf(n: Int, s: Double): Array[Double] = {
    val w = (1 to n).map(i => 1.0 / math.pow(i, s)).scanLeft(0.0)(_ + _).tail
    w.map(_ / w.last).toArray
  }
  private val firstCdf = cdf(firstNames.length, 1.0)
  private val lastCdf = cdf(lastNames.length, 0.9)
  private val streetCdf = cdf(streets.length, 0.8)
  private val zipCdf = cdf(zips.length, 0.6)

  private def pick(r: SplittableRandom, xs: Array[String], c: Array[Double]): String = {
    val i = java.util.Arrays.binarySearch(c, r.nextDouble())
    xs(math.min(xs.length - 1, if (i >= 0) i else -i - 1))
  }
  def first(r: SplittableRandom): String = pick(r, firstNames, firstCdf)
  def last(r: SplittableRandom): String = pick(r, lastNames, lastCdf)
  def zip(r: SplittableRandom): String = pick(r, zips, zipCdf)
  def address(r: SplittableRandom): String = {
    val a = s"${1 + r.nextInt(9999)} ${pick(r, streets, streetCdf)} " +
      streetTypes(r.nextInt(streetTypes.length))
    if (r.nextInt(10) == 0) s"$a, APT ${1 + r.nextInt(40)}" else a
  }
}

/** One voter in canonical (conformed) form. */
final case class Voter(
    stateFileId: String, first: String, middle: String, last: String,
    bornDay: Int, gender: String, address: String, city: String,
    zip5: String, phone: String, party: String, registeredSec: Long) {
  def fuzzyKey: String = s"$first $last $address"
}

/** What the generator planted, for the output checks. */
final case class ImportTruth(
    targetRows: Long, csvLines: Long, malformed: Long,
    sourceRows: Long, group1: Long, group2: Long,
    /** fuzzy candidates handed to the fuzzy phase, in source-id order */
    fuzzySources: Array[String], fuzzyTargets: Array[(Long, String)])

final case class DedupTruth(rows: Long, duplicates: Long)

object Gen {
  val TargetSchema: StructType = StructType(Seq(
    StructField("voter_id", LongType, nullable = false),
    StructField("state_file_id", StringType), StructField("first_name", StringType),
    StructField("middle_name", StringType), StructField("last_name", StringType),
    StructField("born_at", DateType), StructField("gender", StringType),
    StructField("address", StringType), StructField("city", StringType),
    StructField("zip5", StringType), StructField("phone", StringType),
    StructField("party", StringType), StructField("registered_at", TimestampType)))

  val CsvHeader: Seq[String] = Seq("state_file_id", "first_name", "middle_name",
    "last_name", "birth_date", "gender", "residential_address", "city", "zip",
    "phone", "party", "registration_date")

  /** Junk the CSV carries and the job strips with `remove_expression`. */
  val Junk = "~~"
  val RemoveExpression = "~+"

  private val RegFormat = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val Day0 = java.time.LocalDate.of(1930, 1, 1).toEpochDay.toInt

  private def voter(v: Vocab, r: SplittableRandom, sfid: String): Voter = {
    val city = v.cities(r.nextInt(v.cities.length))
    Voter(sfid, v.first(r), if (r.nextInt(3) == 0) "" else v.first(r), v.last(r),
      Day0 + r.nextInt(365 * 75), if (r.nextBoolean()) "F" else "M",
      v.address(r), city, v.zip(r),
      if (r.nextInt(4) == 0) "" else f"${2000000000L + r.nextInt(999999999)}%d",
      v.parties(r.nextInt(v.parties.length)),
      1000000000L + r.nextInt(600000000))
  }

  private def sfid(n: Long): String = f"S$n%09d"

  /** Seeded Fisher-Yates shuffle, in place. */
  private def shuffle(r: SplittableRandom, a: Array[Int]): Array[Int] = {
    var p = a.length - 1
    while (p > 0) { val q = r.nextInt(p + 1); val t = a(p); a(p) = a(q); a(q) = t; p -= 1 }
    a
  }

  /** A [[TargetSchema]] row's fields. */
  private def fields(pk: Long, x: Voter): Seq[Any] =
    Seq[Any](pk, x.stateFileId, x.first, nullIfEmpty(x.middle), x.last,
      java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(x.bornDay)), x.gender,
      x.address, x.city, x.zip5, nullIfEmpty(x.phone), x.party,
      new java.sql.Timestamp(x.registeredSec * 1000L))

  private def nullIfEmpty(s: String): String = if (s == null || s.isEmpty) null else s

  private def writeTable(spark: SparkSession, rows: java.util.List[Row],
                         schema: StructType, path: String): Unit =
    spark.createDataFrame(rows, schema)
      .repartition(spark.sparkContext.defaultParallelism)
      .write.mode("overwrite").parquet(path)

  /** Mixed case and padding inside the caret quotes, undone by conform. */
  private def noisy(r: SplittableRandom, s: String): String = {
    val cased = if (r.nextInt(3) == 0) s.toLowerCase else s
    val padded = if (r.nextInt(5) == 0) s" $cased " else cased
    s"^$padded^"
  }

  private def withJunk(r: SplittableRandom, line: String): String =
    if (r.nextInt(20) != 0) line
    else {
      val at = r.nextInt(line.length + 1)
      line.substring(0, at) + Junk + line.substring(at)
    }

  private def csvLine(r: SplittableRandom, x: Voter, blankLast: Boolean): String = {
    val d = java.time.LocalDate.ofEpochDay(x.bornDay)
    val reg = java.time.LocalDateTime.ofEpochSecond(x.registeredSec, 0,
      java.time.ZoneOffset.UTC).format(RegFormat)
    val zip = if (r.nextBoolean()) s"${x.zip5}${1000 + r.nextInt(9000)}"
      else s"${x.zip5}-${1000 + r.nextInt(9000)}"
    Seq(
      if (x.stateFileId == null) "" else x.stateFileId,
      noisy(r, x.first), if (x.middle.isEmpty) "" else noisy(r, x.middle),
      if (blankLast) "" else noisy(r, x.last),
      f"${d.getMonthValue}%02d/${d.getDayOfMonth}%02d/${d.getYear}%04d",
      x.gender, noisy(r, x.address), noisy(r, x.city), zip, x.phone, x.party,
      reg).mkString(",")
  }

  /** One typo in the first or last name: the row no longer matches exactly,
    * but its first+last+address key stays trigram-close to the original. */
  private def typo(r: SplittableRandom, x: Voter): Voter = {
    def edit(s: String): String = {
      val i = r.nextInt(s.length)
      val c = ('A' + r.nextInt(26)).toChar
      r.nextInt(3) match {
        case 0 if s.length > 3 => s.substring(0, i) + s.substring(i + 1)
        case 1 => s.substring(0, i) + c + s.substring(i)
        case _ => s.substring(0, i) + c + s.substring(math.min(s.length, i + 1))
      }
    }
    if (r.nextBoolean()) x.copy(first = edit(x.first)) else x.copy(last = edit(x.last))
  }

  /**
   * Import inputs: a target voter table (parquet) and a caret-quoted voter
   * CSV. Source rows are planted as exact matches on `state_file_id`
   * (share `g1`), exact matches on first+last+zip5 with a fresh state id
   * (share `g2`), typo'd copies of unclaimed targets (share `fuzzyShare`)
   * and true inserts. The target carries the fuzzy key column.
   * About 0.5% extra lines have the wrong field count and about 1% have a
   * blank last name, which the job's constraint drops.
   */
  def imports(spark: SparkSession, seed: Long, nTarget: Int, nSource: Int,
              g1: Double, g2: Double, fuzzyShare: Double, dir: String): ImportTruth = {
    val v = new Vocab(seed)
    val r = new SplittableRandom(seed)
    val targets = new Array[Voter](nTarget)
    val keyMinPk = mutable.HashMap.empty[(String, String, String), Long]
    var i = 0
    while (i < nTarget) {
      val x = voter(v, r, sfid(i.toLong))
      targets(i) = x
      val k = (x.first, x.last, x.zip5)
      if (!keyMinPk.contains(k)) keyMinPk(k) = i + 1L
      i += 1
    }
    val rows = new java.util.ArrayList[Row](nTarget)
    targets.zipWithIndex.foreach { case (x, j) =>
      rows.add(Row.fromSeq(fields(j + 1L, x) :+ x.fuzzyKey)) }
    writeTable(spark, rows, TargetSchema.add("fuzzy_key", StringType), s"$dir/target")

    // distinct target ordinals for the exact and fuzzy plants
    val order = shuffle(r, Array.range(0, nTarget))
    val n1 = (nSource * g1).toInt
    val n2 = (nSource * g2).toInt
    val nf = (nSource * fuzzyShare).toInt
    val kinds = shuffle(r, Array.fill(n1)(1) ++ Array.fill(n2)(2) ++ Array.fill(nf)(3) ++
      Array.fill(nSource - n1 - n2 - nf)(0))

    var nextSfid = nTarget.toLong
    var cursor = 0
    def freshKeyVoter(make: () => Voter): Voter = {
      var x = make()
      while (keyMinPk.contains((x.first, x.last, x.zip5))) x = make()
      x
    }
    val claimed = mutable.HashSet.empty[Long]
    val unmatched = mutable.ArrayBuffer.empty[String]
    val csv = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(s"$dir/source.csv"), "ISO-8859-1"), 1 << 16)
    var lines = 0L; var malformed = 0L; var kept = 0L
    var c1 = 0L; var c2 = 0L
    try {
      csv.write(CsvHeader.mkString(",")); csv.write('\n')
      kinds.foreach { kind =>
        val x: Voter = kind match {
          case 1 =>
            val t = targets(order(cursor)); cursor += 1
            t.copy(phone = if (r.nextBoolean()) "" else f"${3000000000L + r.nextInt(99999999)}%d",
              party = v.parties(r.nextInt(v.parties.length)))
          case 2 =>
            val t = targets(order(cursor)); cursor += 1
            nextSfid += 1
            t.copy(stateFileId = sfid(nextSfid), address = v.address(r))
          case 3 =>
            val t = targets(order(cursor)); cursor += 1
            nextSfid += 1
            freshKeyVoter(() => typo(r, t.copy(stateFileId = sfid(nextSfid))))
          case _ =>
            nextSfid += 1
            val id = sfid(nextSfid)
            freshKeyVoter(() => voter(v, r, id))
        }
        val blank = r.nextInt(100) == 0
        csv.write(withJunk(r, csvLine(r, x, blank))); csv.write('\n'); lines += 1
        if (!blank) {
          kept += 1
          kind match {
            case 1 => c1 += 1; claimed += (targetPkOf(x.stateFileId))
            case 2 => c2 += 1; claimed += keyMinPk((x.first, x.last, x.zip5))
            case _ => unmatched += x.fuzzyKey
          }
        }
        if (r.nextInt(200) == 0) {
          // wrong arity: a trailing extra field or a missing one
          val l = csvLine(r, voter(v, r, sfid(0)), blankLast = false)
          csv.write(if (r.nextBoolean()) l + ",^EXTRA^" else l.substring(0, l.lastIndexOf(',')))
          csv.write('\n'); lines += 1; malformed += 1
        }
      }
    } finally csv.close()
    val available = targets.indices.iterator
      .map(j => (j + 1L, targets(j).fuzzyKey))
      .filterNot { case (pk, _) => claimed.contains(pk) }.toArray
    ImportTruth(nTarget, lines, malformed, kept, c1, c2, unmatched.toArray, available)
  }

  /** Target pk of a planted state id: ids S0..S(n-1) are pks 1..n. */
  private def targetPkOf(stateFileId: String): Long = stateFileId.substring(1).toLong + 1

  /**
   * Dedup input: `nBase` distinct voters, plus duplicates of distinct
   * originals: `g1` of them share the original's state id under another
   * name, `g2` share first+last+born_at with a null state id. Pks are
   * shuffled so either member of a pair may survive. No two planted pairs
   * share a row and no accidental name+born_at collision exists, so the
   * self-join invariants hold and the duplicate count is exact.
   */
  def dedup(spark: SparkSession, seed: Long, nBase: Int, g1: Double, g2: Double,
            path: String): DedupTruth = {
    val v = new Vocab(seed)
    val r = new SplittableRandom(seed)
    val seen = mutable.HashSet.empty[(String, String, Int)]
    def unique(make: () => Voter): Voter = {
      var x = make()
      while (!seen.add((x.first, x.last, x.bornDay))) x = make()
      x
    }
    val base = Array.tabulate(nBase)(j => unique(() => voter(v, r, sfid(j.toLong))))
    val n1 = (nBase * g1).toInt
    val n2 = (nBase * g2).toInt
    val origins = shuffle(r, Array.range(0, nBase))
    val dups = (0 until n1).map { j =>
      val o = base(origins(j))
      unique(() => o.copy(first = v.first(r), address = v.address(r)))
    } ++ (n1 until n1 + n2).map { j =>
      base(origins(j)).copy(stateFileId = null, phone = "", address = v.address(r))
    }
    val all = base ++ dups
    val pks = shuffle(r, Array.range(1, all.length + 1))
    val rows = new java.util.ArrayList[Row](all.length)
    all.indices.foreach(j => rows.add(Row.fromSeq(fields(pks(j).toLong, all(j)))))
    writeTable(spark, rows, TargetSchema, path)
    DedupTruth(all.length.toLong, (n1 + n2).toLong)
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
