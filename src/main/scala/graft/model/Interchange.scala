package graft.model

/** Interchange message model (FIXTURES.md; ref: emap-interchange/.../
  * EmapOperationMessage.java:14, InterchangeValue.java:16-18).
  *
  * Tri-state field values: SAVE (set), DELETE (null out), IGNORE (leave
  * stored value untouched) — encoded as a (value, status) struct column,
  * NOT plain nullability.
  */
final case class IValue[T](value: Option[T], status: String)

object IValue {
  val Save = "SAVE"; val Delete = "DELETE"; val Ignore = "IGNORE"
  def save[T](v: T): IValue[T] = IValue(Some(v), Save)
  def delete[T]: IValue[T] = IValue(None, Delete)
  def ignore[T]: IValue[T] = IValue(None, Ignore)

  /** HL7 null semantics (ref InterchangeValue.java:100-107):
    * empty → IGNORE, the literal two-double-quote string → DELETE.
    */
  def fromHl7(raw: String): IValue[String] = raw match {
    case null | ""  => ignore
    case "\"\""     => delete
    case v          => save(v)
  }
}

object TriState {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** F5: apply a tri-state (value,status) struct column onto the current
    * stored value (ref RowState.java:140-145).
    */
  def applyField(iv: Column, current: Column): Column =
    when(iv.getField("status") === IValue.Save, iv.getField("value"))
      .when(iv.getField("status") === IValue.Delete, lit(null))
      .otherwise(current)
}
