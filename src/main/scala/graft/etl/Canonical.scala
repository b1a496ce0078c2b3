package graft.etl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.EtlFunctions

/** The canonical 50-column unified listing schema.
  *
  * Field inventory mirrors the reference's `CH_FIELD_MAPPING`
  * (`src/utils/mapping.py:1-52`): pretty-cased intermediate names → snake_case
  * DWH names, with target types from `schema.md:1-72` as enforced by
  * `src/utils/types_transform.py:7-90`.
  *
  * Documented divergences from the reference (SURVEY.md §2/§7):
  *  - `built_year_offer`: reference casts to uint8 which *wraps mod 256*
  *    (2024 → 232, `types_transform.py:66`) — we keep the real year in a
  *    short;
  *  - enum columns stay strings clamped to their domain (the reference's
  *    pandas `category` dtype is an encoding detail, not a semantic);
  *  - surrogate hashes use stable xxhash64, not salted Python `hash()`.
  */
object Canonical {

  /** fill: value used by the final cast's null-fill (None = keep null). */
  final case class Field(
      pretty: String,
      snake: String,
      dataType: DataType,
      fill: Option[Any] = None,
      domain: Option[Seq[String]] = None)

  private val D = DoubleType
  private val S = StringType
  private val L = LongType

  val sellerTypes = Seq("AGENT", "AGENCY", "DEVELOPER", "OWNER", "UNKNOWN", "PRIVATE_AGENT")
  val propertyTypes = Seq("layout", "townhouse", "Unknown", "house", "flat", "room")
  val categories = Seq("Unknown", "living")
  val dealTypes = Seq("sale", "lease", "Unknown", "rent")
  val discountStatuses = Seq("Active", "Expired", "Unknown", "None", "discount_received")
  val flatTypes = Seq("SECONDARY", "NEW_FLAT", "UNKNOWN", "NEW_SECONDARY")
  val balconyTypes = Seq("BALCONY", "LOGGIA", "TWO_LOGGIA", "BALCONY__LOGGIA", "TWO_BALCONY", "UNKNOWN")
  val windowViews = Seq("YARD", "YARD_STREET", "STREET", "UNKNOWN")
  val buildingStates = Seq("UNFINISHED", "HAND_OVER", "UNKNOWN")

  val epoch = java.sql.Timestamp.valueOf("1970-01-01 00:00:00")

  /** All 50 canonical fields in `CH_FIELD_MAPPING` order. */
  val fields: Seq[Field] = Seq(
    Field("Object ID", "listing_id", L, fill = Some(0L)),
    Field("listing_url", "listing_url", S, fill = Some("")),
    Field("Price", "price", D, fill = Some(0.0)),
    Field("Price per sqm", "price_per_sqm", D, fill = Some(0.0)),
    Field("Mortgage Rate", "mortgage_rate", FloatType, fill = Some(0.0f)),
    Field("Address", "address", S, fill = Some("")),
    Field("Address ID", "address_id", L, fill = Some(0L)),
    Field("Area", "area", D, fill = Some(0.0)),
    Field("Rooms", "rooms", ShortType, fill = Some(0)),
    Field("Floor", "floor", ShortType, fill = Some(0)),
    Field("Description", "description", S, fill = Some("")),
    Field("Published Date", "published_date", TimestampType, fill = Some(epoch)),
    Field("Updated Date", "updated_date", TimestampType, fill = Some(epoch)),
    Field("Seller ID", "seller_id", L, fill = Some(0L)),
    Field("Seller Name Hash", "seller_name_hash", S, fill = Some("")),
    Field("Company Name", "company_name", S, fill = Some("")),
    Field("Company ID", "company_id", L, fill = Some(0L)),
    Field("Property Type", "property_type", S, fill = Some("Unknown"), domain = Some(propertyTypes)),
    Field("Category", "category", S, fill = Some("Unknown"), domain = Some(categories)),
    Field("House Floors", "house_floors", ShortType, fill = Some(0)),
    Field("Deal Type", "deal_type", S, fill = Some("Unknown"), domain = Some(dealTypes)),
    Field("Discount Status", "discount_status", S, fill = Some("Unknown"), domain = Some(discountStatuses)),
    Field("Discount Value", "discount_value", D, fill = Some(0.0)),
    Field("Placement Paid", "placement_paid", ShortType, fill = Some(0)),
    Field("Big Card", "big_card", ShortType, fill = Some(0)),
    Field("Pin Color", "pin_color", ShortType, fill = Some(0)),
    Field("Longitude", "longitude", D, fill = Some(0.0)),
    Field("Latitude", "latitude", D, fill = Some(0.0)),
    Field("Subway Distances", "subway_distances", ArrayType(D), fill = Some(Array.empty[Double])),
    Field("Subway Names", "subway_names", ArrayType(S), fill = Some(Array.empty[String])),
    Field("Photos URLs", "photo_urls", ArrayType(S), fill = Some(Array.empty[String])),
    Field("Monthly Payment", "monthly_payment", D, fill = Some(0.0)),
    Field("Advance Payment", "advance_payment", D, fill = Some(0.0)),
    Field("Auction Status", "auction_status", D, fill = Some(0.0)),
    Field("uid", "uid", S), // derived: UUIDv5(listing_id _ platform_id)
    Field("platform_id", "platform_id", ShortType, fill = Some(0)),
    Field("created_at", "created_at", TimestampType, fill = Some(epoch)),
    Field("seller_type", "seller_type", S, fill = Some("UNKNOWN"), domain = Some(sellerTypes)),
    Field("flat_type", "flat_type", S, fill = Some("UNKNOWN"), domain = Some(flatTypes)),
    Field("height", "height", D, fill = Some(0.0)),
    Field("area_rooms", "area_rooms", D, fill = Some(0.0)),
    Field("previous_price", "previous_price", D, fill = Some(0.0)),
    Field("renovation_offer", "renovation_offer", S, fill = Some("")),
    Field("balcony_type", "balcony_type", S, fill = Some("UNKNOWN"), domain = Some(balconyTypes)),
    Field("window_view", "window_view", S, fill = Some("UNKNOWN"), domain = Some(windowViews)),
    Field("built_year_offer", "built_year_offer", ShortType, fill = Some(0)),
    Field("building_state", "building_state", S, fill = Some("UNKNOWN"), domain = Some(buildingStates)),
    Field("type_house_offer", "type_house_offer", S, fill = Some("")),
    Field("valid", "valid", ByteType, fill = Some(0)),
    Field("subway_time", "subway_time", S)) // JSON map, null allowed

  require(fields.size == 50, s"canonical schema must have 50 fields, got ${fields.size}")

  val prettyNames: Seq[String] = fields.map(_.pretty)
  val snakeNames: Seq[String] = fields.map(_.snake)
  val bySnake: Map[String, Field] = fields.map(f => f.snake -> f).toMap

  /** Target StructType (snake names). */
  val targetSchema: StructType =
    StructType(fields.map(f => StructField(f.snake, f.dataType, nullable = f.snake == "subway_time")))

  /** A26 — the final typed cast of `src` to field `f`: cast → domain clamp →
    * null fill, named `f.snake`. Ref: `src/utils/types_transform.py:7-90`. */
  def castExpr(f: Field, src: Column): Column = {
    val base = src.try_cast(f.dataType)
    val clamped = f.domain match {
      case Some(dom) => EtlFunctions.enumDomain(base, dom,
        if (dom.contains("Unknown")) "Unknown" else "UNKNOWN")
      case None => base
    }
    val filled = (f.fill, f.dataType) match {
      case (Some(_), at: ArrayType) => coalesce(clamped, array().cast(at)) // null list → []
      case (Some(v), dt) => coalesce(clamped, lit(v).cast(dt))
      case (None, _) => clamped
    }
    filled.as(f.snake)
  }
}
