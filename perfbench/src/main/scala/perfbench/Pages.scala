package perfbench

import java.util.SplittableRandom

/** Seeded VGSI parcel pages for the ingest and lake workloads.
  *
  * A [[Pages]] instance holds `entries` parcels (pids 1..entries) and a
  * mutation schedule of `rounds` refresh rounds. Each round changes a
  * seeded fraction of the valid parcels in one of three ways, each of which
  * touches a known set of lake tables:
  *
  *  - reassess: a new assessment (properties)
  *  - sale: a new owner and a new sale row (properties, ownership)
  *  - renovate: one building's area and one of its sub-areas (buildings, sub_areas)
  *
  * Parcels vary in building, sub-area and sale row counts. About
  * one pid in seven renders the VGSI error form and is invalid. The program
  * sees only the rendered HTML, through the fetch seam of [[PageStore]].
  * Expected row counts per table, per round, are derived from the same
  * states, so the ingest checks are exact.
  */
final case class Sub(code: String, desc: String, gross: Int, living: Int)
final case class Bldg(year: Int, area: Int, style: String, subs: Vector[Sub])
final case class Sale(owner: String, price: Long, date: String)
final case class Parcel(
    pid: Long,
    owner: String,
    assessment: Long,
    acres: Int, // tenths of an acre
    street: String,
    buildings: Vector[Bldg],
    sales: Vector[Sale]
) {
  def salePrice: Long = sales.last.price

  /** Row signatures per lake table: a table's rows for this parcel change
    * exactly when its signature list changes.
    */
  def tableRows: Map[String, Seq[String]] = Map(
    "properties" -> Seq(s"$owner|$salePrice|$assessment|${buildings.size}|$acres|$street"),
    "buildings" -> buildings.zipWithIndex.map { case (b, i) => s"$i|${b.year}|${b.area}|${b.style}" },
    "sub_areas" -> buildings.zipWithIndex.flatMap { case (b, i) => b.subs.map(s => s"$i|$s") },
    "ownership" -> sales.map(_.toString)
  ).withDefaultValue(Nil)
}

object Pages {
  val Tables: Seq[String] = Seq("properties", "buildings", "sub_areas", "ownership",
    "appraisals", "assessments", "extra_features", "outbuildings")

  private val Streets = Vector("ELM ST", "OAK AVE", "MAPLE DR", "MAIN ST", "HIGH ST", "PARK RD", "RIVER LN")
  private val Styles = Vector("Colonial", "Cape Cod", "Ranch", "Raised Ranch", "Victorian", "Contemporary")
  private val SubCodes = Vector("BAS" -> "First Floor", "FUS" -> "Upper Story", "FGR" -> "Garage",
    "UBM" -> "Basement", "FOP" -> "Open Porch", "WDK" -> "Deck")

  private def mix(seed: Long, a: Long, b: Long = 0L): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + a * 0xBF58476D1CE4E5B9L + b * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def owner(r: SplittableRandom): String =
    s"OWNER ${(r.nextInt(26) + 'A').toChar}${(r.nextInt(26) + 'A').toChar} ${r.nextInt(100000)}"

  private def subArea(r: SplittableRandom): Sub = {
    val (code, desc) = SubCodes(r.nextInt(SubCodes.size))
    val gross = 200 + r.nextInt(1800)
    Sub(code, desc, gross, gross - r.nextInt(200))
  }

  private def initial(seed: Long, pid: Long): Parcel = {
    val r = new SplittableRandom(mix(seed, pid, 1))
    val nB = 1 + r.nextInt(3)
    val buildings = Vector.fill(nB)(
      Bldg(1900 + r.nextInt(120), 800 + r.nextInt(3200), Styles(r.nextInt(Styles.size)),
        Vector.fill(1 + r.nextInt(4))(subArea(r))))
    val sales = Vector.tabulate(1 + r.nextInt(5)) { i =>
      Sale(owner(r), 50000L + r.nextInt(900) * 1000L, f"${1 + r.nextInt(12)}%02d/${1 + r.nextInt(28)}%02d/${1990 + i * 6 + r.nextInt(6)}")
    }
    Parcel(pid, sales.last.owner, 100000L + r.nextInt(500) * 700L, 1 + r.nextInt(40),
      s"${1 + r.nextInt(400)} ${Streets(r.nextInt(Streets.size))}", buildings, sales)
  }

  private def mutate(seed: Long, round: Int, p: Parcel): Parcel = {
    val r = new SplittableRandom(mix(seed, p.pid, 100 + round))
    r.nextInt(3) match {
      case 0 =>
        p.copy(assessment = p.assessment + 700L * (1 + r.nextInt(50)))
      case 1 =>
        val s = Sale(owner(r), 60000L + r.nextInt(900) * 1000L, f"${1 + r.nextInt(12)}%02d/${1 + r.nextInt(28)}%02d/${2021 + round}")
        p.copy(owner = s.owner, sales = p.sales :+ s)
      case _ =>
        val bi = r.nextInt(p.buildings.size)
        val b = p.buildings(bi)
        val si = r.nextInt(b.subs.size)
        val s = b.subs(si)
        val nb = b.copy(area = b.area + 10 + r.nextInt(500),
          subs = b.subs.updated(si, s.copy(gross = s.gross + 5 + r.nextInt(100), living = s.living + 1)))
        p.copy(buildings = p.buildings.updated(bi, nb))
    }
  }

  private def money(v: Long): String = f"$$$v%,d"

  /** VGSI page HTML, in the layout the parser reads. */
  def html(p: Parcel): String = {
    val sb = new StringBuilder(4096)
    sb ++= s"""<html><body><form id="form1" action="./Parcel.aspx">
      |<span id="lblTownName">Benchville</span>
      |<span id="MainContent_lblPid">${p.pid}</span>
      |<span id="MainContent_lblLocation">${p.street}</span>
      |<span id="MainContent_lblGenOwner">${p.owner}</span>
      |<span id="MainContent_lblPrice">${money(p.salePrice)}</span>
      |<span id="MainContent_lblGenAssessment">${money(p.assessment)}</span>
      |<span id="MainContent_lblBldCount">${p.buildings.size}</span>
      |<span id="MainContent_lblLndAcres">${p.acres / 10}.${p.acres % 10}</span>
      |<span id="MainContent_lblZip">06${p.pid % 1000}</span>
      |""".stripMargin
    p.buildings.zipWithIndex.foreach { case (b, i) =>
      val pre = f"MainContent_ctl${i + 2}%02d"
      sb ++= s"""<span id="${pre}_lblYearBuilt">${b.year}</span>
        |<span id="${pre}_lblBldArea">${f"${b.area}%,d"}</span>
        |<table id="${pre}_grdCns"><tr><td>Style:</td><td>${b.style}</td></tr><tr><td>Heat Type:</td><td>Forced Air</td></tr></table>
        |<table id="${pre}_grdSub"><tr><th>Code</th><th>Description</th><th>Gross Area</th><th>Living Area</th></tr>
        |""".stripMargin
      b.subs.foreach(s => sb ++= s"<tr><td>${s.code}</td><td>${s.desc}</td><td>${f"${s.gross}%,d"}</td><td>${f"${s.living}%,d"}</td></tr>\n")
      sb ++= s"<tr><td></td><td>Total</td><td>${b.subs.map(_.gross).sum}</td><td>${b.subs.map(_.living).sum}</td></tr></table>\n"
    }
    sb ++= "<table id=\"MainContent_grdSales\"><tr><th>Owner</th><th>Sale Price</th><th>Sale Date</th></tr>\n"
    p.sales.foreach(s => sb ++= s"<tr><td>${s.owner}</td><td>${money(s.price)}</td><td>${s.date}</td></tr>\n")
    sb ++= "</table>\n</form></body></html>"
    sb.result()
  }

  val ErrorPage: String =
    """<html><form id="form1" action="./Error.aspx?Message=There+was+an+error+loading+the+parcel."></form></html>"""
}

final class Pages(seed: Long, val entries: Int, val rounds: Int, val mutatedFraction: Double) {
  import Pages._

  val pids: Vector[Long] = (1L to entries.toLong).toVector
  val invalid: Set[Long] = pids.filter(p => java.lang.Math.floorMod(mix(seed, p, 7), 7L) == 0L).toSet
  val valid: Vector[Long] = pids.filterNot(invalid)

  /** states(round)(pid): round 0 is the load, rounds 1..rounds the refreshes. */
  val states: Vector[Map[Long, Parcel]] = {
    val s0 = valid.map(p => p -> initial(seed, p)).toMap
    (1 to rounds).scanLeft(s0) { (prev, round) =>
      prev.map { case (pid, p) =>
        val r = new SplittableRandom(mix(seed, pid, 200 + round))
        pid -> (if (r.nextDouble() < mutatedFraction) mutate(seed, round, p) else p)
      }
    }.toVector
  }

  def last: Map[Long, Parcel] = states.last

  /** Rendered pages of one round, indexed by pid. */
  def html(round: Int): Array[String] = {
    val a = new Array[String](entries + 1)
    pids.foreach { p => a(p.toInt) = states(round).get(p).fold(ErrorPage)(Pages.html) }
    a
  }

  /** Rows per table a parse of round `round` flattens to. */
  def flattened(round: Int): Map[String, Long] =
    Tables.map(t => t -> states(round).values.map(_.tableRows(t).size.toLong).sum).toMap

  /** Rows per table the lake must gain at `round`: every row at the load,
    * and afterwards the whole new snapshot of each parcel whose rows in
    * that table changed.
    */
  def written(round: Int): Map[String, Long] =
    if (round == 0) flattened(0)
    else Tables.map { t =>
      t -> valid.map { p =>
        val (a, b) = (states(round - 1)(p).tableRows(t), states(round)(p).tableRows(t))
        if (a.sorted != b.sorted) b.size.toLong else 0L
      }.sum
    }.toMap

  /** Number of distinct property-row versions per pid after the last round. */
  def propertyVersions(pid: Long): Int =
    states.map(_(pid).tableRows("properties")).sliding(2).count(w => w.size == 2 && w(0) != w(1)) + 1

  /** Pids whose property row changed at refresh `round`. */
  def propertyChanges(round: Int): Int =
    valid.count(p => states(round - 1)(p).tableRows("properties") != states(round)(p).tableRows("properties"))
}

/** The fetch seam: pages served from memory, with every call counted. Tasks
  * run in this JVM (local mode), so the object is shared with them.
  */
object PageStore {
  @volatile private var pages: Array[String] = Array.empty
  val fetches = new java.util.concurrent.atomic.AtomicLong()

  def serve(p: Array[String]): Unit = pages = p
  def fetch(pid: Long): String = {
    fetches.incrementAndGet()
    pages(pid.toInt)
  }
}
