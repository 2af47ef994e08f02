package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

import graft.sources.SalesFeed

/** One generated feed file and what its valid rows contribute to the final
  * state of the star tables. */
final case class FeedFile(path: Path, bytes: Long, names: Seq[(Int, String)],
                          totals: Seq[(Int, String)], stores: Set[String],
                          suppliers: Set[String], dates: Set[LocalDate], malformed: Int)

/** Seeded generator for the reference sales feed, held to the profile of
  * the reference's 10-file feed (FIXTURES.md §1): CSV files of `rows`
  * records with all 50 columns, a UTF-8 BOM, quoted multiline
  * `product_description` fields and empty strings for missing values; ids
  * 1..rows in every file, so each file after the first only updates keys
  * the store already holds; 383 store names, 383 supplier names, 364 sale
  * dates (all of 2021, `M/d/yyyy`), 3 product names, 3 categories and 204
  * countries. Every file holds each store, supplier and date at least once,
  * so the dimensions reach the reference cardinalities (383, 383, 364) on
  * the first file whatever the seed.
  *
  * The seed varies only what lies within that profile: attribute values,
  * the skew of the remaining rows over stores and suppliers (Zipf
  * exponents), how those rows spread over the year (a window of 30 to 364
  * days), and which rows are malformed (a price that overflows
  * NUMERIC(12,2), which the pipeline must route to `dead_letter`). */
final class StarFeed(seed: Long, rows: Int) {
  import StarFeed._
  private val root = new SplittableRandom(seed)
  private val storeSkew = 0.5 + root.nextInt(100) / 100.0
  private val supplierSkew = 0.5 + root.nextInt(100) / 100.0
  private val dateWindowDays = 30 + root.nextInt(Dates - 29)
  private val dateWindowStart = root.nextInt(Dates - dateWindowDays + 1)
  private val malformedPerMille = 2 + root.nextInt(5)

  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = (1 to n).map(k => 1.0 / math.pow(k, s))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  private val storeCdf = zipfCdf(Stores, storeSkew)
  private val supplierCdf = zipfCdf(Suppliers, supplierSkew)
  private def draw(cdf: Array[Double], r: SplittableRandom): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  /** One value per row: each of `0 until n` once, the other rows from
    * `rest`, in shuffled row order. */
  private def covering(n: Int, r: SplittableRandom)(rest: => Int): Array[Int] = {
    val a = Array.tabulate(rows)(i => if (i < n) i else rest)
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }

  def describe: Seq[(String, Any)] = Seq(
    "store_zipf_s" -> storeSkew, "supplier_zipf_s" -> supplierSkew,
    "date_window_days" -> dateWindowDays, "malformed_per_mille" -> malformedPerMille)

  /** Write file number `f`; files must be written in order. */
  def write(dir: Path, f: Int): FeedFile = {
    val r = root.split()
    val col = SalesFeed.fieldNames.zipWithIndex.toMap
    val storeOf = covering(Stores, r)(draw(storeCdf, r))
    val supplierOf = covering(Suppliers, r)(draw(supplierCdf, r))
    val dayOf = covering(Dates, r)(dateWindowStart + r.nextInt(dateWindowDays))
    val sb = new StringBuilder(rows * 900)
    sb.append('\uFEFF').append(SalesFeed.fieldNames.mkString(",")).append('\n')
    val names, totals = mutable.ArrayBuffer.empty[(Int, String)]
    val stores, suppliers = mutable.Set.empty[String]
    val dates = mutable.Set.empty[LocalDate]
    var malformed = 0
    // every one of the 50 columns is set for every row
    val v = new Array[String](SalesFeed.fieldNames.size)
    def set(c: String, x: String): Unit = v(col(c)) = x
    def maybe(pctEmpty: Int, x: => String): String = if (r.nextInt(100) < pctEmpty) "" else x
    def mdy(d: LocalDate) = s"${d.getMonthValue}/${d.getDayOfMonth}/${d.getYear}"
    for (i <- 1 to rows) {
      val bad = r.nextInt(1000) < malformedPerMille
      val first = s"F${r.nextInt(100000)}"
      val last = s"L${f}x${r.nextInt(1000000)}"
      val date = FirstDate.plusDays(dayOf(i - 1).toLong)
      val store = s"Store ${storeOf(i - 1)}"
      val supplier = s"Supplier ${supplierOf(i - 1)}"
      val total = s"${r.nextInt(100000)}.${"%02d".format(r.nextInt(100))}"
      val price = if (bad) "1e300" else s"${1 + r.nextInt(500)}.${"%02d".format(r.nextInt(100))}"
      set("id", i.toString)
      set("customer_first_name", first)
      set("customer_last_name", last)
      set("customer_age", s"${18 + r.nextInt(60)}.0")
      set("customer_email", s"c$i.$f.${r.nextInt(1000000000)}@example.com")
      set("customer_country", country(r))
      set("customer_postal_code", maybe(52, s"${10000 + r.nextInt(90000)}"))
      set("customer_pet_type", PetTypes(r.nextInt(3)))
      set("customer_pet_name", s"Pet${r.nextInt(1000)}")
      set("customer_pet_breed", Breeds(r.nextInt(3)))
      set("seller_first_name", s"S${r.nextInt(100000)}")
      set("seller_last_name", s"T$f")
      set("seller_email", s"s$i@example.com")
      set("seller_country", country(r))
      set("seller_postal_code", maybe(53, s"${10000 + r.nextInt(90000)}"))
      set("product_name", ProductNames(r.nextInt(3)))
      set("product_category", Categories(r.nextInt(3)))
      set("product_price", price)
      set("product_quantity", (1 + r.nextInt(100)).toString)
      set("sale_date", mdy(date))
      set("sale_customer_id", i.toString)
      set("sale_seller_id", i.toString)
      set("sale_product_id", i.toString)
      set("sale_quantity", s"${1 + r.nextInt(10)}")
      set("sale_total_price", total)
      set("store_name", store)
      set("store_location", s"${r.nextInt(9999)} Main St")
      set("store_city", s"City ${r.nextInt(300)}")
      set("store_state", maybe(84, s"ST${r.nextInt(50)}"))
      set("store_country", country(r))
      set("store_phone", s"555-${1000 + r.nextInt(9000)}")
      set("store_email", s"${store.replace(' ', '.')}@example.com")
      set("pet_category", PetCategories(r.nextInt(5)))
      set("product_weight", s"${r.nextInt(50)}.${r.nextInt(10)}")
      set("product_color", s"Color${r.nextInt(20)}")
      set("product_size", Sizes(r.nextInt(3)))
      set("product_brand", s"Brand${r.nextInt(50)}")
      set("product_material", s"Material${r.nextInt(10)}")
      set("product_description",
        s"\"Item $i, batch $f.\nLine two of the description, note ${r.nextInt(1000)}.\"")
      set("product_rating", s"${1 + r.nextInt(4)}.${r.nextInt(10)}")
      set("product_reviews", r.nextInt(1000).toString)
      set("product_release_date", mdy(FirstDate.minusDays(r.nextInt(2000).toLong)))
      set("product_expiry_date", mdy(FirstDate.plusDays(r.nextInt(2000).toLong)))
      set("supplier_name", supplier)
      set("supplier_contact", s"Contact ${r.nextInt(1000)}")
      set("supplier_email", s"${supplier.replace(' ', '.')}@example.com")
      set("supplier_phone", s"555-${1000 + r.nextInt(9000)}")
      set("supplier_address", s"${r.nextInt(9999)} Supply Rd")
      set("supplier_city", s"City ${r.nextInt(300)}")
      set("supplier_country", country(r))
      sb.append(v.mkString(",")).append('\n')
      if (bad) malformed += 1
      else {
        names += i -> s"$first $last"
        totals += i -> total
        stores += store
        suppliers += supplier
        dates += date
      }
    }
    Files.createDirectories(dir)
    val p = dir.resolve(f"part-$f%05d.csv")
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    Files.write(p, bytes)
    FeedFile(p, bytes.length.toLong, names.toSeq, totals.toSeq, stores.toSet,
      suppliers.toSet, dates.toSet, malformed)
  }
}

object StarFeed {
  // the reference feed's profile (FIXTURES.md §1)
  val Stores = 383
  val Suppliers = 383
  val Dates = 364
  val FirstDate: LocalDate = LocalDate.of(2021, 1, 1)
  val Countries = 204
  val ProductNames: IndexedSeq[String] = IndexedSeq("Product A", "Product B", "Product C")
  val Categories: IndexedSeq[String] = IndexedSeq("Category A", "Category B", "Category C")
  val PetTypes: IndexedSeq[String] = IndexedSeq("cat", "dog", "bird")
  val Breeds: IndexedSeq[String] = IndexedSeq("Breed A", "Breed B", "Breed C")
  val PetCategories: IndexedSeq[String] = (1 to 5).map(k => s"Pet category $k")
  val Sizes: IndexedSeq[String] = IndexedSeq("Small", "Medium", "Large")

  private def country(r: SplittableRandom): String = s"Country ${r.nextInt(Countries)}"
}

/** The state the star tables must reach once `files` have been processed
  * in order: last write wins per id, dimensions hold every distinct key,
  * and every malformed row sits in `dead_letter`. */
final class Expected(files: Seq[FeedFile]) {
  val lastName: Map[Int, String] = files.flatMap(_.names).toMap
  val lastTotal: Map[Int, String] = files.flatMap(_.totals).toMap
  val stores: Int = files.flatMap(_.stores).distinct.size
  val suppliers: Int = files.flatMap(_.suppliers).distinct.size
  val dates: Int = files.flatMap(_.dates).distinct.size
  val malformed: Long = files.map(_.malformed.toLong).sum
}
