package perfbench

import java.io.{File, PrintWriter}
import java.time.LocalDate
import java.time.format.DateTimeFormatter
import java.time.temporal.IsoFields

/** Seeded generator of the Bikes source system, one day at a time, in
  * the reference's CSV form: the nine extracts of `graft.etl.Schemas`.
  *
  * Dimension extracts are full snapshots (the source system's current
  * state); the two order extracts carry only the orders of the days
  * being loaded, so every refresh appends to the CDC facts. Each day
  * changes some customers' last names (SCD1 updates) and some product
  * prices (SCD2 versions).
  *
  * The generator keeps every row it emitted and derives the expected
  * warehouse contents from them in plain Scala, independently of Spark
  * and of the program under test: fact counts and sums, product
  * versions, current customer attributes and the dashboard answers.
  */
final class BikesGen(seed: Long, val nCust: Int = 2000, val nProd: Int = 200,
    val ordersPerDay: Int = 500, val itemsPerOrder: Int = 4,
    custChangesPerDay: Int = 40, priceChangesPerDay: Int = 10) {
  import BikesGen._

  private val rnd = new java.util.SplittableRandom(seed)
  private def pick[T](xs: IndexedSeq[T]): T = xs(rnd.nextInt(xs.size))
  /** A name with the punctuation noise the reference's cleanser strips. */
  private def noisy(n: String): String = n + pick(noise)

  val firstDay: LocalDate = LocalDate.of(2019, 1, 1)

  // ---- static master data (unchanged day to day) -------------------
  private val nAddr = 120
  private val nPartner = 30
  private val nStore = 20
  val addresses: IndexedSeq[(Long, String, String, String, Long)] =
    (1 to nAddr).map { i =>
      val (country, region) = pick(countries)
      (i.toLong, s"${pick(cities)}$i", country, region,
        10000L + rnd.nextInt(89999))
    }
  val partners: IndexedSeq[(Long, String, Long, String)] =
    (1 to nPartner).map(i => (100L + i, s"sales$i@partner$i.com",
      1L + rnd.nextInt(nAddr), s"${pick(companyWords)}${pick(companySuffix)}$i"))
  val stores: IndexedSeq[(Long, String, Long, String)] =
    (1 to nStore).map(i => (i.toLong, pick(firstNames),
      1L + rnd.nextInt(nAddr), f"555-${rnd.nextInt(10000)}%04d"))
  val products: IndexedSeq[(String, String, Long)] = // id, category, partner
    (0 until nProd).map { i =>
      val (cat, _) = categories(i % categories.size)
      (f"$cat-${1000 + i}%d", cat, partners(rnd.nextInt(nPartner))._1)
    }
  val productNames: Map[String, String] = products.map { case (id, c, _) =>
    id -> s"${categories.toMap.apply(c)} ${pick(modelWords)} ${id.drop(3)}"
  }.toMap

  // ---- mutable source state ---------------------------------------
  // customer: id -> (first, last, gender, dob)
  private val cust = scala.collection.mutable.LinkedHashMap.empty[Long,
    (String, String, String, LocalDate)]
  (1 to nCust).foreach { i =>
    cust(i.toLong) = (noisy(pick(firstNames)), noisy(pick(lastNames)),
      pick(genders), LocalDate.of(1940 + rnd.nextInt(66), 1 + rnd.nextInt(12),
        1 + rnd.nextInt(28)))
  }
  private val price = scala.collection.mutable.Map.empty[String, Long] ++
    products.map(p => p._1 -> (100L + rnd.nextInt(49) * 100L))

  private var nextOrder = 100000L
  private var nextItem = 1L

  // ---- everything emitted so far (the expectation base) ------------
  private val orders = scala.collection.mutable.ArrayBuffer.empty[Order]
  private val items = scala.collection.mutable.ArrayBuffer.empty[Item]
  private val loads = scala.collection.mutable.ArrayBuffer.empty[Load]

  /** Advance the source system by one day: customer and price changes
    * (applied before the day's orders are taken), then the day's orders.
    * Returns the day's orders and items.
    */
  private def advance(day: LocalDate): (Seq[Order], Seq[Item]) = {
    if (day != firstDay) {
      (1 to custChangesPerDay).foreach { _ =>
        val id = 1L + rnd.nextInt(nCust)
        val (f, l, g, d) = cust(id)
        var nl = l
        while (nl == l) nl = noisy(pick(lastNames))
        cust(id) = (f, nl, g, d)
      }
      (1 to priceChangesPerDay).foreach { _ =>
        val id = products(rnd.nextInt(nProd))._1
        val old = price(id)
        var np = old
        while (np == old) np = 100L + rnd.nextInt(49) * 100L
        price(id) = np
      }
    }
    val os = (1 to ordersPerDay).map { _ =>
      nextOrder += 1
      Order(nextOrder, 1L + rnd.nextInt(nCust), 1L + rnd.nextInt(nStore),
        day, rnd.nextBoolean(), 1L + rnd.nextInt(5))
    }
    val is = os.flatMap { o =>
      val chosen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (chosen.size < itemsPerOrder) chosen += products(rnd.nextInt(nProd))._1
      chosen.toSeq.map { p =>
        nextItem += 1
        val q = 1L + rnd.nextInt(5)
        Item(nextItem, o.id, p, price(p) * q, q)
      }
    }
    (os, is)
  }

  /** Generate the given consecutive days, write ONE extract set (the
    * dimension snapshots as of the last day, the orders of all the
    * days) under `dir`, and record the load for the expectations. The
    * product price seen by the load is the last day's.
    */
  def writeExtract(dir: File, days: Seq[LocalDate]): Unit = {
    val prevPrice = price.toMap
    val loaded = days.map(advance)
    val os = loaded.flatMap(_._1)
    val is = loaded.flatMap(_._2)
    val versions = loads.lastOption.fold(nProd.toLong)(l => l.versions +
      products.count(p => price(p._1) != prevPrice(p._1)))
    orders ++= os
    items ++= is
    loads += Load(orders.size, items.size, days.last, versions, price.toMap,
      cust.toMap)
    dir.mkdirs()
    def csv(name: String, header: String, rows: Iterable[String]): Unit = {
      val w = new PrintWriter(new File(dir, name), "UTF-8")
      try { w.println(header); rows.foreach(w.println) } finally w.close()
    }
    csv("Customer.csv", "customer_id,first_name,last_name,gender,DOB," +
      "job_industry_category,wealth_segment,deceased_indicator",
      cust.toSeq.flatMap { case (id, (f, l, g, d)) =>
        val row = s"$id,$f,$l,$g,${d.format(ddMMyyyy)}"
        // every 50th customer arrives twice, differing only in
        // columns the staging projection drops
        Seq(s"$row,${pick(industries)},Mass Customer,N") ++
          (if (id % 50 == 0) Seq(s"$row,${pick(industries)},Affluent,N")
          else Nil)
      })
    csv("Address.csv", "ADDRESSID,CITY,COUNTRY,REGION,POSTALCODE",
      addresses.map(a => s"${a._1},${a._2},${a._3},${a._4},${a._5}"))
    csv("BusinessPartner.csv", "PARTNERID,EMAILADDRESS,ADDRESSID,COMPANYNAME",
      partners.map(p => s"${p._1},${p._2},${p._3},${p._4}"))
    csv("ProductCategory.csv", "PRODCATEGORYID,PRODCATEGORYNAME",
      categories.map(c => s"${c._1},${c._2}"))
    csv("Product.csv", "PRODUCTID,PRODCATEGORYID,PARTNERID,PRICE",
      products.map(p => s"${p._1},${p._2},${p._3},${price(p._1)}"))
    csv("ProductDetail.csv", "PRODUCTID,PRODUCT_NAME",
      products.map(p => s"${p._1},${productNames(p._1)}"))
    csv("Store.csv", "StoreID,manager,AddressID,phone",
      stores.map(s => s"${s._1},${s._2},${s._3},${s._4}"))
    val itemsByOrder = is.groupBy(_.order)
    csv("SalesOrder.csv", "SalesOrderID,PARTNERID,SALESORG,GROSSAMOUNT," +
      "Ordertype,StoreID,Date,RATING,customer_id",
      os.map { o =>
        val amt = itemsByOrder(o.id).map(_.amt).sum
        s"${o.id},${partners((o.id % nPartner).toInt)._1}," +
          s"${salesOrgs((o.id % 3).toInt)},$amt," +
          s"${if (o.online) "Online" else "Offline"},${o.store}," +
          s"${o.date.format(ddMMyyyy)},${o.rating},${o.cust}"
      })
    csv("SalesOrderItems.csv",
      "SalesOrderItemsID,PRODUCTID,SalesOrderID,GROSSAMOUNT,QUANTITY",
      is.map(i => s"${i.id},${i.product},${i.order},${i.amt},${i.qty}"))
  }

  /** What the warehouse must hold after the first `n` extracts were
    * loaded, one refresh each, derived from the emitted rows alone.
    */
  def expectation(n: Int): Expectation = {
    require(n >= 1 && n <= loads.size, s"$n loads of ${loads.size}")
    val l = loads(n - 1)
    val os = orders.take(l.nOrders)
    val is = items.take(l.nItems)
    val dateOf = os.map(o => o.id -> o.date).toMap
    val catOf = products.map(p => p._1 -> categories.toMap.apply(p._2)).toMap
    def byCat(period: LocalDate => String) =
      is.groupBy(i => (catOf(i.product), period(dateOf(i.order))))
        .map { case (k, v) => k -> (v.map(_.amt).sum, v.map(_.qty).sum) }
    val partnerOf = products.map(p => p._1 -> p._3).toMap
    val partnerName = partners.map(p => p._1 -> p._4).toMap
    val asOf = l.asOf
    Expectation(
      orders = os.size.toLong,
      items = is.size.toLong,
      saleAmt = is.map(_.amt).sum,
      saleQty = is.map(_.qty).sum,
      productDays = is.map(i => (i.product, dateOf(i.order))).distinct.size.toLong,
      productVersions = l.versions,
      currentPrice = l.prices,
      customers = l.customers.map { case (id, (f, ln, g, d)) =>
        val age = asOf.getYear - d.getYear -
          (if (asOf.getMonthValue * 100 + asOf.getDayOfMonth <
            d.getMonthValue * 100 + d.getDayOfMonth) 1 else 0)
        id -> (clean(f), clean(ln), g, d, age.toLong, ageRange(age))
      },
      salesByYear = byCat(byYear),
      salesByQuarter = byCat(byQuarter),
      salesByMonth = byCat(byMonth),
      salesByPartner = is.groupBy(i => partnerName(partnerOf(i.product)))
        .map { case (k, v) => k -> v.map(_.amt).sum },
      avgRating = os.map(_.rating.toDouble).sum / os.size)
  }
}

object BikesGen {
  final case class Order(id: Long, cust: Long, store: Long, date: LocalDate,
      online: Boolean, rating: Long)
  final case class Item(id: Long, order: Long, product: String, amt: Long,
      qty: Long)
  /** One extract as loaded: emitted-row prefix lengths and the source
    * state the load carries.
    */
  final case class Load(nOrders: Int, nItems: Int, asOf: LocalDate,
      versions: Long, prices: Map[String, Long],
      customers: Map[Long, (String, String, String, LocalDate)])

  /** Expected warehouse contents. `customers` maps Cust_ID to (first,
    * last, gender, birth date, age, age range); the sales maps key on
    * (category name, period label).
    */
  final case class Expectation(orders: Long, items: Long, saleAmt: Long,
      saleQty: Long, productDays: Long, productVersions: Long,
      currentPrice: Map[String, Long],
      customers: Map[Long, (String, String, String, LocalDate, Long, Option[String])],
      salesByYear: Map[(String, String), (Long, Long)],
      salesByQuarter: Map[(String, String), (Long, Long)],
      salesByMonth: Map[(String, String), (Long, Long)],
      salesByPartner: Map[String, Long], avgRating: Double)

  val ddMMyyyy: DateTimeFormatter = DateTimeFormatter.ofPattern("dd-MM-yyyy")

  val byYear: LocalDate => String = d => d.getYear.toString
  val byQuarter: LocalDate => String =
    d => s"${d.getYear} Q${d.get(IsoFields.QUARTER_OF_YEAR)}"
  val byMonth: LocalDate => String = d => (d.getYear * 100 + d.getMonthValue).toString

  val categories: IndexedSeq[(String, String)] = IndexedSeq(
    "BX" -> "BMX", "RO" -> "Road", "MB" -> "Mountain", "TR" -> "Touring",
    "CB" -> "Cruiser", "EB" -> "Electric", "KB" -> "Kids", "HB" -> "Hybrid")
  private val countries = IndexedSeq("US" -> "AMER", "CA" -> "AMER",
    "DE" -> "EMEA", "FR" -> "EMEA", "GB" -> "EMEA", "IN" -> "APJ",
    "JP" -> "APJ", "AU" -> "APJ")
  private val cities = IndexedSeq("Lyon", "Austin", "Pune", "Osaka",
    "Leeds", "Perth", "Dayton", "Bremen")
  private val companyWords = IndexedSeq("Acme", "Spoke", "Gear", "Pedal",
    "Chain", "Frame", "Saddle", "Crank")
  private val companySuffix = IndexedSeq("Corp", "Works", "Ltd", "Cycles")
  private val modelWords = IndexedSeq("Deluxe", "Racer", "Sport", "Pro",
    "Classic", "Trail")
  private val firstNames = IndexedSeq("Laraine", "Eli", "Arlin", "Talbot",
    "Sheila-Kathryn", "Curr", "Fina", "Rod", "Mala", "Fiorenze", "Duff",
    "Barry", "O'Neil", "Kristos", "Herby", "Anne-Marie")
  private val lastNames = IndexedSeq("Medendorp", "Bockman", "Dearle",
    "Calton", "Ledgerwood", "Duckhouse", "Meadows", "Agnew", "O'Hara",
    "Smith-Jones", "Pilipets", "Nutten", "Vankov", "Brunning", "Hinkins")
  private val genders = IndexedSeq("F", "M", "U")
  private val industries = IndexedSeq("IT", "Health", "Retail", "Financial",
    "Manufacturing")
  private val salesOrgs = IndexedSeq("AMER", "EMEA", "APJ")

  private val noise = IndexedSeq("", "", "", "@", "#", "%%", "!")
  private def clean(s: String): String = s.replaceAll("\\W+", "")

  /** Right-closed buckets of `graft.ops.Derive.ageRange`. */
  def ageRange(age: Int): Option[String] =
    if (age < 18 || age > 120) None
    else if (age <= 30) Some("18-29")
    else if (age <= 40) Some("30-39")
    else if (age <= 50) Some("40-49")
    else if (age <= 60) Some("50-59")
    else if (age <= 70) Some("60-69")
    else Some("70+")
}
