package graft.plans

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GetStructField, UnaryExpression, UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A static profile table keyed by one string column, held as a hash
  * map from the key to the row of the remaining columns. Built once,
  * when the lookup is defined; rows with a null key are left out, since
  * a null key never matches.
  */
final class ProfileTable private (
    val valueSchema: StructType,
    rows: java.util.HashMap[UTF8String, InternalRow]) extends Serializable {
  def get(key: UTF8String): InternalRow = rows.get(key)
}

object ProfileTable {

  /** Collects `profiles` and indexes it by `key`. A key value present
    * twice is an error: the left join this table replaces would
    * silently multiply the probing row.
    */
  def apply(profiles: DataFrame, key: String): ProfileTable = {
    val schema = profiles.schema
    val k = schema.fieldIndex(key)
    requireStringKey(key, schema(k).dataType, "in the profiles")
    val valueOrdinals = schema.indices.filterNot(_ == k)
    val project = UnsafeProjection.create(valueOrdinals.map(i =>
      BoundReference(i, schema(i).dataType, schema(i).nullable)))
    val rows = new java.util.HashMap[UTF8String, InternalRow]()
    profiles.queryExecution.executedPlan.executeCollect().foreach { r =>
      if (!r.isNullAt(k)) {
        val id = r.getUTF8String(k).clone()
        if (rows.put(id, project(r).copy()) != null)
          throw new IllegalArgumentException(
            s"duplicate profile key '$key' = $id: a lookup needs one row per key")
      }
    }
    new ProfileTable(StructType(valueOrdinals.map(schema(_))), rows)
  }

  /** Only binary-collated strings: their bytes are their equality. */
  private[plans] def requireStringKey(key: String, t: DataType, side: String): Unit =
    require(t == StringType,
      s"key '$key' is ${t.simpleString} $side; a profile lookup needs a string key")
}

/** The profile row of `child`'s key, or null on a miss or a null key.
  * The table arrives through one broadcast; generated code reads its
  * value once per task into a field, so each row costs one hash probe
  * inside the surrounding whole-stage codegen stage.
  */
case class ProfileLookup(child: Expression, table: Broadcast[ProfileTable],
                         dataType: StructType) extends UnaryExpression {

  override def nullable: Boolean = true
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "profile_lookup"
  override def toString: String = s"$prettyName($child)"

  override protected def nullSafeEval(key: Any): Any =
    table.value.get(key.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val tableClass = classOf[ProfileTable].getName
    val bc = ctx.addReferenceObj("profileBroadcast", table, classOf[Broadcast[_]].getName)
    val tbl = ctx.addMutableState(tableClass, "profiles",
      v => s"$v = ($tableClass) $bc.value();", forceInline = true)
    nullSafeCodeGen(ctx, ev, k =>
      s"""
         |${ev.value} = $tbl.get($k);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin)
  }

  override protected def withNewChildInternal(newChild: Expression): ProfileLookup =
    copy(child = newChild)
}

object ProfileLookup {

  /** `left.join(broadcast(profiles), Seq(key), "left")`, computed as a
    * per-row lookup instead of a join: the same columns in the same
    * order (key, the other left columns, the profile columns), the same
    * types, and nulls where the key has no profile. The profiles are
    * read once, here, and shipped in one broadcast, so the plan has no
    * exchange and re-planning it per micro-batch re-reads nothing.
    */
  def leftJoin(left: DataFrame, profiles: DataFrame, key: String): DataFrame = {
    ProfileTable.requireStringKey(key, left.schema(key).dataType, "on the probe side")
    val table = ProfileTable(profiles, key)
    val bc = left.sparkSession.sparkContext.broadcast(table)
    val row = ProfileLookup(ColumnBridge.expression(left(key)), bc, table.valueSchema)
    val fields = table.valueSchema.zipWithIndex.map { case (f, i) =>
      ColumnBridge.column(GetStructField(row, i, Some(f.name))).as(f.name, f.metadata)
    }
    left.select((left(key) +: left.columns.filterNot(_ == key).map(left(_))) ++ fields: _*)
  }
}
