package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** Tiny raw platform frames matching FIXTURES.md §A, for the pipeline specs. */
trait EtlFixtures { self: SparkSpec =>

  /** All-string frame, like the reference's dtype-less CSV reads (A1). */
  protected def strDF(cols: Seq[String], rows: Seq[Seq[String]]): DataFrame = {
    val schema = StructType(cols.map(StructField(_, StringType, nullable = true)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(Row.fromSeq), 1), schema)
  }

  val domclickCols = Seq("Object ID", "Price", "Price per sqm", "Mortgage Rate",
    "Address", "Address ID", "Area", "Rooms", "Floor", "Description",
    "Published Date", "Updated Date", "Seller ID", "Seller Name Hash",
    "Company Name", "Company ID", "Property Type", "Category", "House Floors",
    "Deal Type", "Discount Status", "Discount Value", "Placement Paid",
    "Big Card", "Pin Color", "Longitude", "Latitude", "Subway Distances",
    "Subway Names", "Photos URLs", "Monthly Payment", "Advance Payment",
    "Auction Status")

  def domclickRaw: DataFrame = strDF(domclickCols, Seq(
    Seq("101", "5000000", "125000", "5.5", "Москва, Арбат 1", "77001", "40", "2", "3",
      "desc one", "2024-12-01T10:00:00.500Z", "2024-12-02 09:30:00", "9001", "abc",
      "ООО Ромашка", "555", "flat", "living", "9", "sale", "Active", "3.5",
      "True", "False", "1", "37.59", "55.75", "[350.0, 870.5]",
      "['Арбатская', 'Смоленская']", "['/p/1.jpg', 'p/2.jpg']", "21000", "900000", "0"),
    // missing required Price → dropped by A23
    Seq("102", null, null, null, "Питер, Невский 2", null, "55", "3", "5",
      null, "bad date", null, null, null, null, null, null, null, null, null,
      null, null, null, null, null, null, null, "junk", null, null, null, null, null),
    // null Company ID → filled from hash(Company Name) (A11/A12)
    Seq("103", "7000000", "140000", "6.1", "Казань, Баумана 3", "16001", "50", "2", "7",
      "desc three", "2024-11-20 08:00:00", "2024-11-21 08:00:00", "9002", "def",
      "АО Василёк", null, "house", "living", "17", "sale", "None", "0",
      "False", "True", "2", "49.12", "55.79", "[]", "[]", "[]", "0", "0", "1")))

  val yandexCols = Seq("url_offer_yand", "price_offer", "square_total_offer",
    "address_offer", "rooms_offer", "floor_offer", "description_offer",
    "date_offer", "type_offer", "floors_house", "longitude", "latitude",
    "metro_name", "metro_transp", "time_to_metro", "photo_list_offer",
    "seller", "height_offer", "square_rooms_offer", "previous_price_offer")

  def yandexRaw: DataFrame = strDF(yandexCols, Seq(
    Seq("//realty.yandex.ru/offer/201/", "6000000", "48", "Москва, Тверская 5", "2", "4",
      "y-desc", "2024-12-05 11:00:00", "NEW_FLAT", "12", "37.61", "55.76",
      "Тверская", "walk", "7", "['/photo/a.jpg']", "AGENT", "2.7", "30", "5900000"),
    // duplicate url → keep-first (A22)
    Seq("//realty.yandex.ru/offer/201/", "6100000", "48", "Москва, Тверская 5", "2", "4",
      "dup", "2024-12-06 11:00:00", "SECONDARY", "12", "37.61", "55.76",
      null, null, null, "[]", "OWNER", "2.7", "30", "6000000"),
    Seq("//realty.yandex.ru/offer/202/", "4500000", "35", "Москва, Ленинский 7", "1", "9",
      "y-desc-2", "2024-12-07 12:00:00", "SECONDARY", "16", "37.58", "55.70",
      null, null, null, "[]", "AGENCY", "2.5", "18", "4400000")))

  val avitoCols = Seq("url_offer", "id_offer", "price_offer", "square_total_offer",
    "address_offer", "rooms_offer", "floor_offer", "description_offer",
    "date_offer", "type_offer", "sdelka_offer", "floors_house", "latitude",
    "longitude", "metro_name1", "metro_name2", "metro_name3",
    "distance_to_metro1", "distance_to_metro2", "distance_to_metro3",
    "photo_list_offer", "developer_offer", "seller", "height_offer",
    "square_rooms_offer", "renovation_offer", "built_year_offer",
    "type_house_offer")

  def avitoRaw: DataFrame = strDF(avitoCols, Seq(
    Seq("https://avito.ru/kvartiry/301", "301", "3000000", "0", "Омск, Мира 9", "1", "2",
      "a-desc", "2024-10-10 10:10:10", "Flat", "sale", "5", "54.99", "73.37",
      "Маяковская", null, "", "500.5", null, "bad", "['x.jpg']", "DEVELOPER", null,
      "2.9", "20", "ремонт", "2015", "кирпич")))
}
