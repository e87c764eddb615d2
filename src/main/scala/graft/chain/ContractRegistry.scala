package graft.chain

import graft.functions.{Cbc20, columnOf, exprOf}
import graft.functions.Cbc20.cbc20_decode
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types.StructType

/** Pluggable contract-decoder registry (OP-EXT-1).
  *
  * The reference dispatches per contract name to a `SmartContract` impl
  * (`/root/reference/crates/contracts/src/transfer.rs:1-19`,
  * etl.rs:402-411; `cbc20` is the only registered type, constants.rs:1).
  * Here a contract type contributes two column-level pieces: the selector
  * predicate (OP-FIL-8) and the decode Generator (OP-UDTF-1). Adding a
  * token standard = registering one more `ContractDecoder` — the pipeline
  * code never changes.
  */
final case class ContractDecoder(
    name: String,
    /** calldata selector predicate over the `input` column */
    isCall: Column => Column,
    /** (sender, input) -> generator emitting
      * (transfer_index, from_addr, to_addr, value) rows */
    decode: (Column, Column) => Column)

object ContractRegistry {

  val cbc20: ContractDecoder =
    ContractDecoder("cbc20", Cbc20.isTransferCall, cbc20_decode)

  private var registry: Map[String, ContractDecoder] = Map("cbc20" -> cbc20)

  def register(d: ContractDecoder): Unit = synchronized {
    registry += (d.name -> d)
  }

  /** Unknown contract names fail fast, mirroring the reference's panic
    * (etl.rs:410) at plan-construction time rather than mid-job. */
  def apply(name: String): ContractDecoder =
    registry.getOrElse(name,
      throw new IllegalArgumentException(s"Unknown contract type: $name"))

  def names: Set[String] = registry.keySet

  /** One generator over several watched contract types: for each
    * `(selects, decoder)` pair whose predicate holds on a row, in order,
    * the rows that decoder emits for `(sender, input)`. A transaction two
    * types select yields both types' transfers, as a union of per-type
    * decodes would, from a single pass over the row. */
  def decodeWatched(watch: Seq[(Column, ContractDecoder)], sender: Column,
      input: Column): Column =
    columnOf(WatchedDecodeExpr(exprOf(sender), exprOf(input),
      watch.map(w => exprOf(w._1)), watch.map(_._2)))
}

/** Catalyst form of [[ContractRegistry.decodeWatched]]. Each decoder's
  * generator is built over this node's own (resolved, then bound)
  * `sender` and `input` children rather than nested as a child, since
  * Catalyst rejects a generator inside another. */
case class WatchedDecodeExpr(sender: Expression, input: Expression,
    selects: Seq[Expression], decoders: Seq[ContractDecoder])
    extends Generator with CodegenFallback {
  require(selects.nonEmpty && selects.size == decoders.size,
    "one selector predicate per decoder")

  override def children: Seq[Expression] = sender +: input +: selects

  @transient private lazy val generators: Seq[Generator] = {
    val gs = decoders.map { d =>
      exprOf(d.decode(columnOf(sender), columnOf(input))) match {
        case g: Generator => g
        case other => throw new IllegalArgumentException(
          s"decoder ${d.name} is not a generator: $other")
      }
    }
    require(gs.forall(_.elementSchema == gs.head.elementSchema),
      s"decoders ${decoders.map(_.name).mkString(", ")} emit different rows")
    gs
  }

  override def elementSchema: StructType = generators.head.elementSchema

  override def eval(row: InternalRow): IterableOnce[InternalRow] =
    selects.indices.iterator.flatMap { i =>
      if (selects(i).eval(row) == true) generators(i).eval(row)
      else Iterator.empty
    }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): WatchedDecodeExpr =
    copy(sender = newChildren(0), input = newChildren(1),
      selects = newChildren.drop(2))
}
