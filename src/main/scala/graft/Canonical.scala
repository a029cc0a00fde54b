package graft

import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** The canonical 6-column schema of the ETL surface.
  *
  * Mirrors the reference's `EXPECTED_HEADERS` contract
  * (`/root/reference/src/utils/normalization.ts:5-19`): a fixed,
  * ordered header list; all sink-facing values are strings; missing
  * columns are default-filled (`:25-34`).
  */
object Canonical {
  val Name = "Name"
  val Address = "Address"
  val Postcode = "Postcode"
  val Phone = "Phone"
  val CreditLimit = "Credit Limit"
  val Birthday = "Birthday"

  /** Order is significant: output columns, JSON keys and HTML cells
    * all follow it. */
  val headers: Seq[String] = Seq(Name, Address, Postcode, Phone, CreditLimit, Birthday)

  /** Default string for a missing/empty field of the given canonical
    * column (reference `normalization.ts:25-34`). */
  def default(header: String): String =
    if (header == CreditLimit) "0.00" else ""

  /** Sink-facing schema: 6 string columns in canonical order. */
  val schema: StructType =
    StructType(headers.map(h => StructField(h, StringType, nullable = false)))
}
