package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.collection.mutable
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.pipeline.ChurnSchema

/** Seeded churn landing-zone generator (FIXTURES.md §A1/§A2 shapes).
  *
  * A customer's attributes are a pure function of (seed, number,
  * version): every column choice is an xxhash64 of those, so the
  * generator's whole state is which numbers exist at which version.
  * Every expected count the benchmark checks comes from this
  * bookkeeping, never from reading the pipeline's output back.
  *
  * Planted faults (base load, per customer number): 1.5% negative
  * tenure, 1.0% duplicated ids (both copies are flagged), 1.0%
  * unparsable numerics (recovered to NULL, so they still load). That
  * is ~3.5% bad rows, under the pipeline's 10% circuit breaker.
  */
final class Gen(seed: Long, nBase: Int) {

  private def h(n: Long, salt: Int): Long = XXH64.hashLong(n * 1000003L + salt, seed)
  private def mod(n: Long, salt: Int, m: Int): Int = Math.floorMod(h(n, salt), m.toLong).toInt
  private def pick[T](n: Long, salt: Int, xs: IndexedSeq[T]): T = xs(mod(n, salt, xs.size))

  private val YesNo = IndexedSeq("Yes", "No")
  private val Places = IndexedSeq("California" -> "Los Angeles",
    "California" -> "San Diego", "California" -> "Fresno",
    "New York" -> "Albany", "Texas" -> "Austin", "Texas" -> "Dallas",
    "Oregon" -> "Portland", "Nevada" -> "Reno")
  private val Contracts = IndexedSeq("Month-to-month", "One year", "Two year")
  private val Reasons = IndexedSeq("Competitor made better offer",
    "Moved", "Price too high", "Network reliability", "Attitude of support person")

  private val ClassicHeader: Seq[String] = Seq("Customer ID", "Gender",
    "Senior Citizen", "Partner", "Dependents", "Country", "State", "City",
    "Zip Code", "Lat Long", "Latitude", "Longitude", "Phone Service",
    "Multiple Lines", "Internet Service", "Online Security", "Online Backup",
    "Device Protection", "Tech Support", "Streaming TV", "Streaming Movies",
    "Paperless Billing", "Payment Method", "Contract", "Tenure In Months",
    "Monthly Charges Amount", "Total Charges", "Churn Label", "Churn Value",
    "Churn Score", "Cltv", "Churn Reason")
  private val ExportHeader: Seq[String] = Seq("customer_id", "gender",
    "senior_citizen", "partner", "dependents", "country", "state", "city",
    "zip_code", "latitude", "longitude") ++ ChurnSchema.serviceCols ++
    Seq("paperless_billing", "payment_method", "contract", "tenure_in_months",
      "monthly_charges_amount", "total_charges", "churn_label", "churn_value",
      "churn_score", "cltv", "churn_reason", "created_at", "updated_at",
      "record_type")
  /** Export-dialect timestamps sit long before any run, so rows inserted
    * through that dialect fall outside every later export window. */
  private val ExportTs = "2020-01-01 00:00:00"

  private def id(n: Long): String = f"C$n%08d"
  private def tenure(n: Long, v: Int): Int = 1 + mod(n, 11, 60) + v
  private def monthly(n: Long, v: Int): Double = (1825 + mod(n * 31 + v, 12, 10050)) / 100.0

  /** Canonical values of customer `n` at version `v`, staging column names. */
  private def values(n: Long, v: Int): Map[String, String] = {
    val (state, city) = pick(n * 7 + v, 5, Places)
    val phone = pick(n, 6, YesNo)
    val internet = pick(n, 7, IndexedSeq("DSL", "Fiber optic", "No"))
    def svc(salt: Int) =
      if (internet == "No") "No internet service" else pick(n, salt, YesNo)
    val churn = mod(n, 20, 4) == 0
    val t = tenure(n, v); val m = monthly(n, v)
    Map("customer_id" -> id(n), "gender" -> pick(n, 1, IndexedSeq("Male", "Female")),
      "senior_citizen" -> pick(n, 2, YesNo), "partner" -> pick(n, 3, YesNo),
      "dependents" -> pick(n, 4, YesNo), "country" -> "United States",
      "state" -> state, "city" -> city,
      "zip_code" -> (90001 + mod(n, 8, 900)).toString,
      "latitude" -> f"${33.0 + mod(n, 9, 1000) / 1000.0}%.3f",
      "longitude" -> f"${-118.0 - mod(n, 10, 1000) / 1000.0}%.3f",
      "phone_service" -> phone,
      "multiple_lines" -> (if (phone == "No") "No phone service" else pick(n, 13, YesNo)),
      "internet_service" -> internet, "online_security" -> svc(14),
      "online_backup" -> svc(15), "device_protection" -> svc(16),
      "tech_support" -> svc(17), "streaming_tv" -> svc(18),
      "streaming_movies" -> svc(19), "paperless_billing" -> pick(n, 21, YesNo),
      "payment_method" -> pick(n, 22, ChurnSchema.validPayments.toIndexedSeq),
      "contract" -> pick(n * 3 + v, 23, Contracts),
      "tenure_in_months" -> t.toString, "monthly_charges_amount" -> f"$m%.2f",
      "total_charges" -> f"${t * m}%.2f",
      "churn_label" -> (if (churn) "Yes" else "No"),
      "churn_value" -> (if (churn) "1" else "0"),
      "churn_score" -> (if (mod(n, 24, 4) == 0) "n/a" else mod(n, 25, 101).toString),
      "cltv" -> (if (mod(n, 26, 5) == 0) "n/a" else (2000 + mod(n, 27, 4500)).toString),
      "churn_reason" -> (if (churn) pick(n, 28, Reasons) else "n/a"))
  }

  /** Classic-dialect columns, in ClassicHeader's order. */
  private val ClassicCols: Seq[String] = Seq("customer_id", "gender",
    "senior_citizen", "partner", "dependents", "country", "state", "city",
    "zip_code", "lat_long", "latitude", "longitude") ++ ChurnSchema.serviceCols ++
    Seq("paperless_billing", "payment_method", "contract", "tenure_in_months",
      "monthly_charges_amount", "total_charges", "churn_label", "churn_value",
      "churn_score", "cltv", "churn_reason")

  private def classicLine(r: Map[String, String]): String =
    ClassicCols.map {
      case "lat_long" => s"${r("latitude")}& ${r("longitude")}"
      case c => r(c)
    }.mkString(",")

  private def exportLine(r: Map[String, String], recordType: String): String =
    ExportHeader.map {
      case "created_at" | "updated_at" => ExportTs
      case "record_type" => recordType
      case c => r(c)
    }.mkString(",")

  /** Live warehouse customers: number -> version (insertion ordered). */
  private val present = mutable.LinkedHashMap.empty[Long, Int]
  private val presentNums = mutable.ArrayBuffer.empty[Long]
  private var nextNum: Long = nBase + 1L

  /** What one landing drop should do to the warehouse. `exported` is the
    * number of bronze rows the next export window must contain. */
  final case class Landing(bytes: Long, quarantined: Long, bronze: Long,
                           exported: Long)

  private final class Drop {
    val classic = mutable.ArrayBuffer.empty[String]
    val export = mutable.ArrayBuffer.empty[String]
    var quarantined = 0L
    var exported = 0L
    def add(dialectExport: Boolean, line: String): Unit =
      if (dialectExport) export += line else classic += line
    def write(dir: String, stem: String): Long = {
      Files.createDirectories(Paths.get(dir))
      def put(name: String, header: Seq[String], rows: Seq[String]): Long = {
        val bytes = (header.mkString(",") +: rows).mkString("\n")
          .getBytes(UTF_8)
        Files.write(Paths.get(dir, name), bytes)
        bytes.length.toLong
      }
      put(s"${stem}_classic.csv", ClassicHeader, classic.toSeq) +
        put(s"${stem}_export.csv", ExportHeader, export.toSeq)
    }
  }

  /** New customers `nums` into `drop`; faults planted by `faultRoll`
    * (per mille): [0,15) negative tenure, [15,25) duplicated id,
    * [25,35) unparsable total charges. */
  private def addNew(drop: Drop, nums: Seq[Long], faultRoll: Long => Int,
                     recordType: String): Unit = nums.foreach { n =>
    val dialectExport = mod(n, 30, 2) == 1
    def line(r: Map[String, String]) =
      if (dialectExport) exportLine(r, recordType) else classicLine(r)
    val r = values(n, 0)
    faultRoll(n) match {
      case f if f < 15 =>
        drop.add(dialectExport, line(r.updated("tenure_in_months", s"-${r("tenure_in_months")}")))
        drop.quarantined += 1
      case f if f < 25 =>
        drop.add(dialectExport, line(r))
        // the second copy differs and lands in the other dialect
        val r2 = values(n, 1)
        drop.add(!dialectExport,
          if (dialectExport) classicLine(r2) else exportLine(r2, recordType))
        drop.quarantined += 2
      case f =>
        val r1 = if (f < 35) r.updated("total_charges",
          if (dialectExport) "n/a" else " ") else r
        drop.add(dialectExport, line(r1))
        present(n) = 0; presentNums += n
        // classic rows get the load time as created_at; export rows
        // keep their (old) extraction time
        if (!dialectExport) drop.exported += 1
    }
  }

  /** The cold landing zone: customers 1..nBase. */
  def baseLanding(dir: String): Landing = {
    val drop = new Drop
    addNew(drop, (1L to nBase.toLong), n => mod(n, 77, 1000), "new")
    val bytes = drop.write(dir, "churn_base")
    // a cold warehouse exports everything it holds on its first window
    Landing(bytes, drop.quarantined, present.size.toLong, present.size.toLong)
  }

  /** `count` distinct live numbers chosen by `salt`. */
  private def sample(count: Int, salt: Int, from: mutable.ArrayBuffer[Long]): Seq[Long] = {
    val out = mutable.LinkedHashSet.empty[Long]
    var i = 0L
    while (out.size < count.min(from.size)) {
      out += from(mod(i, salt, from.size)); i += 1
    }
    out.toSeq
  }

  /** A 1% delta for tick `t`: half updates to live ids, half new ids
    * (new ids carry the same fault mix as the base load). */
  def deltaLanding(dir: String, t: Int): Landing = {
    val drop = new Drop
    val half = (nBase / 200).max(1)
    sample(half, 1000 + t, presentNums).foreach { n =>
      val v = present(n) + 1
      present(n) = v
      val r = values(n, v)
      if (mod(n * 7 + t, 31, 2) == 1) drop.add(true, exportLine(r, "updated"))
      else drop.add(false, classicLine(r))
      drop.exported += 1 // an upsert conflict stamps updated_at = load time
    }
    val fresh = (0 until half).map(i => nextNum + i)
    nextNum += half
    addNew(drop, fresh, n => mod(n, 78, 1000), "new")
    val bytes = drop.write(dir, f"churn_t$t%04d")
    Landing(bytes, drop.quarantined, present.size.toLong, drop.exported)
  }

  /** A correction drop of ~0.2% of ids for tick `t` (FIXTURES.md §A4):
    * one row in four breaks a reprocessing whitelist or the numeric
    * check. Returns (bytes, accepted, rejected). */
  def corrections(dir: String, t: Int): (Long, Long, Long) = {
    val n = (nBase / 500).max(4)
    var rejected = 0L
    val lines = sample(n, 2000 + t, presentNums).map { c =>
      val r = values(c, present(c))
      val fixed = mod(c, 40 + t, 16) match {
        case 0 => rejected += 1; r.updated("contract", "Monthly")
        case 1 => rejected += 1; r.updated("payment_method", "Vodafone Cash")
        case 2 => rejected += 1; r.updated("internet_service", "Other")
        case 3 => rejected += 1; r.updated("tenure_in_months", "twelve")
        case _ => r.updated("contract", pick(c + t, 41, Contracts))
      }
      classicLine(fixed)
    }
    Files.createDirectories(Paths.get(dir))
    val bytes = (ClassicHeader.mkString(",") +: lines).mkString("\n").getBytes(UTF_8)
    Files.write(Paths.get(dir, f"fixes_t$t%04d.csv"), bytes)
    (bytes.length.toLong, n.toLong - rejected, rejected)
  }

  // ---- the versioned store's table: bronze-shaped plus a numeric key ----

  val storeSchema: StructType =
    StructType(ChurnSchema.bronze.fields :+ StructField("key_num", LongType))
  private val store = mutable.LinkedHashMap.empty[Long, Int]
  private val storeNums = mutable.ArrayBuffer.empty[Long]
  private var nextStoreNum: Long = 90000000L
  private val StoreTs = Timestamp.valueOf("2026-01-01 00:00:00")

  private def storeRow(n: Long, v: Int): Row = {
    val r = values(n, v)
    Row.fromSeq(storeSchema.fields.toSeq.map(_.name match {
      case "tenure_in_months" => tenure(n, v).toDouble
      case "monthly_charges_amount" => monthly(n, v)
      case "total_charges" => r("total_charges").toDouble
      case "created_at" | "updated_at" => StoreTs
      case "record_type" => "store"
      case "key_num" => n
      case c => r(c)
    }))
  }

  /** The store's initial content: every customer the base load keeps. */
  def storeBase(): Seq[Row] = {
    present.keys.foreach { n => store(n) = 0; storeNums += n }
    storeNums.toSeq.map(storeRow(_, 0))
  }

  /** A 0.5% merge batch: half updates, half inserts. */
  def storeBatch(t: Int): Seq[Row] = {
    val half = (nBase / 400).max(1)
    val upd = sample(half, 3000 + t, storeNums).map { n =>
      store(n) += 1; storeRow(n, store(n))
    }
    val ins = (0 until half).map { i =>
      val n = nextStoreNum + i; store(n) = 0; storeNums += n; storeRow(n, 0)
    }
    nextStoreNum += half
    upd ++ ins
  }

  /** Lookup probe `j` of round `t`: (id, expected tenure, expected charges). */
  def lookupProbe(t: Int, j: Int): (String, Double, Double) = {
    val n = storeNums(mod(t * 1000L + j, 50, storeNums.size))
    (id(n), tenure(n, store(n)).toDouble, monthly(n, store(n)))
  }

  /** Range probe `j` of round `t` over key_num: (lo, hi, count, tenure sum). */
  def rangeProbe(t: Int, j: Int): (Long, Long, Long, Double) = {
    val width = (nBase / 100).max(10).toLong
    val lo = 1L + mod(t * 1000L + j, 51, nBase)
    val hi = lo + width - 1
    val hit = store.filter { case (n, _) => n >= lo && n <= hi }
    (lo, hi, hit.size.toLong, hit.map { case (n, v) => tenure(n, v).toDouble }.sum)
  }
}
