package graftbench

import java.security.MessageDigest
import java.sql.Date
import java.time.LocalDate
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** A generated input table: rows built on the driver from the seed, so
  * the same seed gives the same rows whatever Spark does with them. */
final case class Table(name: String, schema: StructType, rows: IndexedSeq[Row]) {
  /** SHA-256 over the rows' text, in generation order. */
  def hash: String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.mkString("\u0001") + "\n").getBytes("UTF-8")))
    md.digest().map(b => f"$b%02x").mkString
  }
  def df(spark: SparkSession, parts: Int): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, parts), schema)
}

object Gen {
  /** Month 0 of every generated calendar. */
  val Month0: LocalDate = LocalDate.of(2015, 1, 1)
  /** Six years of monthly history. */
  val Months = 72

  def month(t: Int): LocalDate = Month0.plusMonths(t.toLong)
  def date(t: Int): Date = Date.valueOf(month(t))
  def dateStr(t: Int): String = month(t).toString

  def str(n: String) = StructField(n, StringType, nullable = true)
  def dbl(n: String) = StructField(n, DoubleType, nullable = true)
  def int(n: String) = StructField(n, IntegerType, nullable = true)
  def flt(n: String) = StructField(n, FloatType, nullable = true)
  def dat(n: String) = StructField(n, DateType, nullable = true)

  val RatioCols: Seq[String] = Seq("dette_nette_sur_caf",
    "dette_à_terme_sur_k_propres", "ebe_sur_ca", "va_sur_effectif",
    "charges_personnel_sur_va", "stocks_sur_ca", "liquidité_absolue",
    "liquidité_générale", "liquidité_réduite",
    "délai_paiement_sur_délai_encaissement", "k_propres_sur_k_social",
    "bfr_sur_k_propres", "taux_investissement", "solidité_financière",
    "rentabilité_économique")
}

/** One company of the generated population. `end` is the first month it
  * is no longer active (`Int.MaxValue` while active); `judgment` the
  * month of its insolvency judgment, or -1. */
final case class Firm(idx: Int, siren: String, birth: Int, end: Int,
    judgment: Int, small: Boolean, eff: Int, cot: Double, risk: Double) {
  def live(t: Int): Boolean = t >= birth && t < end
  /** Months in the `t`-window before the judgment in which the planted
    * distress signal shows (debt, falling paydex, weak ratios). */
  def distressed(t: Int): Boolean =
    judgment >= 0 && t >= judgment - 18 && t <= judgment
}

/** The seeded company population behind both the monthly scoring batch
  * and the churned panel table. Sizes depend only on `nSirens`; the seed
  * moves values, dates and which companies fail. */
final class Population(seed: Long, nSirens: Int) {
  import Gen._

  val firms: IndexedSeq[Firm] = {
    val rng = new SplittableRandom(seed)
    // which companies are born late, fail, close or stay small is fixed
    // by their index, so that every seed gives the same mix; the seed
    // draws the months and the values
    (0 until nSirens).map { i =>
      val siren = f"${100000000 + i * 37 + rng.nextInt(37)}%09d"
      val birth = if (i % 5 == 1) 1 + rng.nextInt(48) else 0
      val judgment = if (i % 7 == 3) birth + 6 + rng.nextInt(Months - 6 - birth) else -1
      val failing = judgment >= 0
      val closed = !failing && i % 25 == 7
      val end =
        if (failing && judgment < Months - 3) judgment + 3
        else if (closed) birth + 12 + rng.nextInt(Months)
        else Int.MaxValue
      val small = i % 13 == 5
      // the monthly noise below is within ±2, so a small company never
      // reaches the 10-person floor and any other always does
      val eff = if (small) 2 + rng.nextInt(6) else 12 + rng.nextInt(240)
      Firm(i, siren, birth, end, judgment, small, eff,
        eff * (180.0 + rng.nextDouble() * 120.0), rng.nextDouble())
    }
  }

  /** Companies a monthly batch scores at month `t`: active, and with a
    * workforce that reaches the reference's 10-person floor. */
  def scoredAt(t: Int): Int = firms.count(f => !f.small && f.live(t))

  /** Rows of the joined panel up to month `t` inclusive. */
  def panelRowsUpTo(t: Int): Long =
    firms.iterator.filter(!_.small)
      .map(f => (0 to t).count(f.live).toLong).sum

  private def siret(f: Firm) = f.siren + "00011"

  /** The raw extracts of the monthly scoring batch, in the schemas of
    * the reference's production sources (FIXTURES.md §3). */
  def rawTables(): Seq[Table] = {
    val rng = new SplittableRandom(seed ^ 0x5eed5eedL)
    def noise(scale: Double) = (rng.nextDouble() - 0.5) * scale

    // URSSAF contributions: one row per account and quarter window
    val cotisation = for {
      f <- firms; q <- 0 until Months / 3
      if f.live(q * 3) || f.live(q * 3 + 2)
    } yield Row(siret(f), s"c${f.idx}",
      s"${dateStr(q * 3)}T00:00:00-${dateStr(q * 3 + 3)}T00:00:00",
      f.cot * 3 * 0.9, f.cot * 3 * (1.0 + noise(0.2)))

    // URSSAF debt: revisions of a few debt lines, heavier before a
    // judgment; each line stays visible from its treatment date on
    val debit = firms.flatMap { f =>
      val lines =
        if (f.judgment >= 0) 3
        else if (f.risk < 0.1) 1 else 0
      (0 until lines).flatMap { l =>
        val t0 =
          if (f.judgment >= 0) math.max(f.birth, f.judgment - 15 + l * 4)
          else f.birth + rng.nextInt(Months - f.birth)
        val base = f.cot * (if (f.judgment >= 0) 2.5 else 0.3)
        (1 to 1 + rng.nextInt(3)).map { h =>
          Row(siret(f), s"c${f.idx}", Integer.valueOf(l),
            dateStr(math.min(t0 + h - 1, Months - 1)),
            base * h * (1.0 + noise(0.3)), base * h * 0.6,
            java.lang.Short.valueOf(h.toShort), s"${dateStr(t0)}")
        }
      }
    }

    // partial activity: authorised intervals and monthly consumption
    val apFirms = firms.filter(f => rng.nextDouble() < 0.15)
    val apIntervals = apFirms.map { f =>
      val start = f.birth + rng.nextInt(Months - 2 - f.birth)
      val len = 2 + rng.nextInt(6)
      (f, start, math.min(start + len, Months - 1))
    }
    val demande = apIntervals.map { case (f, s, e) =>
      Row(s"da${f.idx}", siret(f), date(s), Date.valueOf(month(e).minusDays(1)),
        f.eff * 35.0 * (e - s))
    }
    val consommation = for {
      (f, s, e) <- apIntervals; t <- s until e
    } yield Row(s"da${f.idx}", siret(f), f.eff * (20.0 + noise(10.0)), date(t))

    // paydex: a monthly rating for most companies, falling before a
    // judgment
    val altares = for {
      f <- firms if f.risk > 0.35; t <- 0 until Months if f.live(t)
    } yield {
      val paydex = if (f.distressed(t)) 25.0 + noise(30) else 75.0 + noise(40)
      Row(f.siren, paydex.toFloat, Integer.valueOf(3 + f.idx % 20),
        (f.cot * 4).toFloat, (0.2 + noise(0.2)).toFloat * 100,
        (0.1 + noise(0.1)).toFloat * 100,
        Date.valueOf(month(t).plusDays(10)))
    }

    val judgments = firms.collect {
      case f if f.judgment >= 0 =>
        Row(f.siren, "2", Integer.valueOf(month(f.judgment).plusDays(14)
          .toString.replace("-", "").toInt))
    } ++ firms.filter(_.risk < 0.02).map(f =>
      // a non-qualifying judgment nature the extract must ignore
      Row(f.siren, "9", Integer.valueOf(20170315)))

    val categories = firms.map(f => Row(f.siren, siret(f),
      f"${75000 + f.idx % 900}%05d", "6420Z", f"${11 + f.idx % 13}%02d", "5710"))
    val dates = firms.map(f => Row(f.siren,
      if (f.end == Int.MaxValue) null else date(f.end), date(f.birth)))
    val effectif = for {
      f <- firms; t <- 0 until Months if f.live(t)
    } yield Row(f.siren, date(t),
      Integer.valueOf(math.max(1, f.eff + rng.nextInt(5) - 2)))

    // yearly financial statements (fiscal year ending in December)
    val dgfip = for {
      f <- firms if f.risk > 0.25; y <- 0 until Months / 12
      if f.live(y * 12 + 11) || f.live(y * 12)
    } yield {
      val weak = f.distressed(y * 12 + 11)
      Row.fromSeq(Seq(f.siren, Date.valueOf(month(y * 12 + 11).plusDays(30))) ++
        RatioCols.map(_ => (if (weak) -0.8 else 0.4) + noise(1.0)))
    }

    Seq(
      Table("cotisation", StructType(Seq(str("siret"), str("numéro_compte"),
        str("fenêtre"), dbl("encaissé"), dbl("dû"))), cotisation),
      Table("debit", StructType(Seq(str("siret"), str("numéro_compte"),
        int("numéro_écart_négatif"), str("date_traitement"),
        dbl("dette_sociale_ouvrière"), dbl("dette_sociale_patronale"),
        StructField("numéro_historique_écart_négatif", ShortType),
        str("période_cotisation"))), debit),
      Table("ap_demande", StructType(Seq(str("id_da"), str("siret"),
        dat("date_début"), dat("date_fin"), dbl("hta"))), demande),
      Table("ap_consommation", StructType(Seq(str("id_da"), str("siret"),
        dbl("ap_heures_consommées"), dat("période"))), consommation),
      Table("altares", StructType(Seq(str("siren"), flt("paydex"),
        int("n_fournisseurs"), flt("encours_étudiés"), flt("fpi_30"),
        flt("fpi_90"), dat("date"))), altares),
      Table("judgments", StructType(Seq(str("siren"), str("code_nature"),
        int("date_jugement"))), judgments),
      Table("sirene_categories", StructType(Seq(str("siren"), str("siret"),
        str("code_commune"), str("code_naf"), str("région"),
        str("catégorie_juridique"))), categories),
      Table("sirene_dates", StructType(Seq(str("siren"), dat("date_fin"),
        dat("date_début"))), dates),
      Table("effectif", StructType(Seq(str("siren"), dat("période"),
        int("effectif"))), effectif),
      Table("dgfip_yearly", StructType(Seq(str("siren"), dat("période")) ++
        RatioCols.map(dbl)), dgfip))
  }
}

/** The keyed monthly panel held in a snapshot table: one row per
  * (siren, month), revised in place by later merges. */
object PanelRow {
  val schema: StructType = StructType(Seq(
    StructField("siren", StringType, nullable = false),
    StructField("période", DateType, nullable = false),
    StructField("effectif", IntegerType, nullable = true),
    StructField("cotisation", DoubleType, nullable = true),
    StructField("dette", DoubleType, nullable = true),
    StructField("rev", IntegerType, nullable = true)))
  /** Logical bytes of one row: 9-byte siren, 4-byte date and int
    * columns, 8-byte doubles. */
  val bytes: Long = 9 + 4 + 4 + 8 + 8 + 4

  def row(siren: String, t: Int, eff: Int, cot: Double, dette: Double,
      rev: Int): Row =
    Row(siren, Gen.date(t), Integer.valueOf(eff), cot, dette, Integer.valueOf(rev))
}

/** Seeded change records for the streaming upsert: one file's worth per
  * trigger, keys drawn with a skew toward a hot set, `seq` increasing
  * across files so that arrival order is the order of the changes. */
final class ChangeStream(seed: Long, val keys: Int, val files: Int,
    val rowsPerFile: Int) {
  val schema: StructType = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("amount", DoubleType, nullable = true),
    StructField("status", StringType, nullable = true)))
  val rowBytes: Long = 8 + 8 + 8 + 6

  private val statuses = Array("open", "paid", "late", "closed")

  val base: Table = {
    val rng = new SplittableRandom(seed ^ 0xba5eL)
    Table("base", schema, (0 until keys).map(k =>
      Row(k.toLong, 0L, rng.nextDouble() * 1000, statuses(rng.nextInt(4)))))
  }

  /** The change rows of file `i`. */
  def file(i: Int): Table = {
    val rng = new SplittableRandom(seed * 1000003L + i)
    Table(f"changes-$i%05d", schema, (0 until rowsPerFile).map { j =>
      val k = if (rng.nextDouble() < 0.3) rng.nextInt(keys / 20)
        else rng.nextInt(keys)
      Row(k.toLong, i.toLong * rowsPerFile + j + 1, rng.nextDouble() * 1000,
        statuses(rng.nextInt(4)))
    })
  }
}
