package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, max}

/** The expected table, computed from the landed envelopes with plain Spark
  * SQL and nothing from the program: of the data records of
  * testdb.retail_trans with an insert, update or delete operation, per key
  * the envelope with the greatest (metadata.timestamp, transaction-id)
  * wins, and a winning delete means the key is absent.
  */
object Reference {
  private val Envelope =
    "data STRUCT<trans_id: BIGINT, customer_id: STRING, event: STRING, sku: STRING, " +
      "amount: INT, device: STRING, trans_datetime: STRING>, " +
      "metadata STRUCT<timestamp: STRING, `record-type`: STRING, operation: STRING, " +
      "`schema-name`: STRING, `table-name`: STRING, `transaction-id`: BIGINT>"

  val Columns: Seq[String] =
    Seq("trans_id", "customer_id", "event", "sku", "amount", "device", "trans_datetime")

  /** The winning envelope per key: `trans_id`, its operation `op`, and the
    * payload columns.
    */
  def winners(lines: DataFrame): DataFrame =
    lines.selectExpr(s"from_json(value, '$Envelope') AS e")
      .where("""e.metadata.`record-type` = 'data'
        AND e.metadata.operation IN ('insert', 'update', 'delete')
        AND trim(e.metadata.`schema-name`) = 'testdb'
        AND trim(e.metadata.`table-name`) = 'retail_trans'
        AND e.data.trans_id IS NOT NULL""")
      .selectExpr("e.data.trans_id AS trans_id",
        """struct(CAST(e.metadata.timestamp AS TIMESTAMP) AS ts,
          e.metadata.`transaction-id` AS tx, e.metadata.operation AS op, e.data AS d) AS v""")
      .groupBy("trans_id").agg(max("v").as("v"))
      .selectExpr("trans_id", "v.op AS op", "v.d.customer_id", "v.d.event", "v.d.sku",
        "v.d.amount", "v.d.device", "CAST(v.d.trans_datetime AS TIMESTAMP) AS trans_datetime")

  /** Expected rows, in the table's column order. */
  def state(lines: DataFrame): DataFrame =
    winners(lines).where("op <> 'delete'").select(Columns.map(col): _*)

  /** A multiset fingerprint: row count and the sum of a 64-bit hash of
    * every row, as exact decimals.
    */
  private def fingerprint(df: DataFrame): (Long, java.math.BigDecimal) = {
    val r = df.select(Columns.map(col): _*)
      .selectExpr("count(*)", s"sum(CAST(xxhash64(${Columns.mkString(", ")}) AS DECIMAL(38, 0)))")
      .head()
    (r.getLong(0), Option(r.getDecimal(1)).getOrElse(java.math.BigDecimal.ZERO))
  }

  /** True when `got` and `want` hold the same rows, as multisets. */
  def same(got: DataFrame, want: DataFrame): Boolean = fingerprint(got) == fingerprint(want)
}
