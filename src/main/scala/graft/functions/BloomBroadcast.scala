package graft.functions

import java.io.ByteArrayInputStream

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.graftbridge.TypeBridge.AbstractDataType
import org.apache.spark.sql.types.{BooleanType, DataType, LongType}
import org.apache.spark.util.sketch.BloomFilter

/** `might_contain` over a Bloom sketch shipped as a BROADCAST VARIABLE
  * instead of a plan literal — the production transport for dd08's
  * existing-corpus sketch ([[graft.operators.Dedup]]).
  *
  * Why not `BloomFilterMightContain(lit(sketchBytes), hash)`? Catalyst
  * canonicalization hashes literal byte arrays, repeatedly, across rule
  * batches: a 1 MB sketch literal measurably costs ~+0.7 s of PLAN time
  * per invocation with the build already memoized, and a real fp index's
  * sketch is megabytes-to-gigabytes. Spark's own injected runtime filters
  * ship their sketches as subquery results, never inline, for exactly
  * this reason. Here the expression tree holds only a [[Broadcast]]
  * HANDLE (bytes travel torrent-style once per executor, not per task,
  * and canonicalization hashes a reference, not megabytes).
  *
  * The sketch bytes are the serialized form of
  * `org.apache.spark.util.sketch.BloomFilter` — the same public format
  * `BloomFilterAggregate` emits — so dd08's distributed sketch build is
  * unchanged; only the transport differs. Semantics match
  * `BloomFilterMightContain`: input is the pre-hashed `xxhash64` long,
  * null in → null out, no false negatives.
  */
case class BloomMightContainBroadcast(bc: Broadcast[Array[Byte]], child: Expression)
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(LongType)
  override def dataType: DataType = BooleanType
  override def nullable: Boolean = child.nullable

  /** Probe the (executor-locally cached) deserialized filter. Public so the
    * generated code can call it on the expression reference. */
  def mightContain(h: Long): Boolean =
    BloomMightContainBroadcast.filterFor(bc).mightContainLong(h)

  override def nullSafeEval(input: Any): Any =
    java.lang.Boolean.valueOf(mightContain(input.asInstanceOf[Long]))

  // Codegen references `this` (a handle-sized object) — the sketch bytes
  // are NOT in the generated code or its references array; each executor
  // pulls them from the broadcast on first probe.
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bloomMc", this, classOf[BloomMightContainBroadcast].getName)
    defineCodeGen(ctx, ev, c => s"$ref.mightContain($c)")
  }

  override protected def withNewChildInternal(c: Expression): BloomMightContainBroadcast =
    copy(child = c)
  override def prettyName: String = "bloom_might_contain_broadcast"
}

object BloomMightContainBroadcast {
  /** Deserialized filters keyed by broadcast id: each JVM (driver for
    * `eval`, every executor for generated code) pays `readFrom` once per
    * sketch, not once per task. Values are SOFT references: a deserialized
    * filter at production sizing is MBs-GBs, one per sketch GENERATION
    * (a rebuilt dd08 sketch on a grown corpus, stream restarts), and a
    * plain strong map would strand every superseded generation for the
    * JVM's lifetime — including on executors, which no driver-side refresh
    * hook can reach. Soft values let the collector reclaim superseded
    * filters under memory pressure (live ones merely pay a rare
    * re-`readFrom` from the still-held broadcast bytes if cleared
    * mid-probe); the emptied map entries themselves (a Long and a dead
    * reference) are purged on the next cache miss. */
  private val filters =
    new java.util.concurrent.ConcurrentHashMap[
      Long, java.lang.ref.SoftReference[BloomFilter]]()

  private def filterFor(bc: Broadcast[Array[Byte]]): BloomFilter = {
    val ref = filters.get(bc.id)
    val cached = if (ref != null) ref.get() else null
    if (cached != null) cached
    else {
      // miss (first probe of this sketch in this JVM, or GC-cleared):
      // sweep dead entries, then deserialize and re-cache. Benign race —
      // concurrent misses each build a correct filter and last-put wins.
      filters.forEach((id, r) => if (r.get() == null) filters.remove(id, r))
      val f = BloomFilter.readFrom(new ByteArrayInputStream(bc.value))
      filters.put(bc.id, new java.lang.ref.SoftReference(f))
      f
    }
  }

  /** Column-level surface: true iff the broadcast sketch might contain the
    * `xxhash64` value in `hashed`. */
  def bloomMightContain(bc: Broadcast[Array[Byte]], hashed: Column): Column =
    ColumnBridge.column(BloomMightContainBroadcast(bc, ColumnBridge.expression(hashed)))
}
