package graft.streaming

import java.math.BigInteger

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** A7 as an EXPLICIT stateful streaming operator: the CIS-2 running
  * token supply via `flatMapGroupsWithState` — the pure-streaming
  * counterpart of [[TransactionalSink]]'s serving-DB supply merge, for
  * consumers that want the live supply as a STREAM (dashboards, alert
  * rules) rather than a table.
  *
  * State per (index, subindex, token_id) is the supply's DECIMAL STRING
  * (the NUMERIC(80,0) analog — CIS-2 amounts reach 2^256-1, past
  * Decimal(38), exactly why the reference stores NUMERIC(80,0) and the
  * batch path sums through [[graft.functions.U256]]); arithmetic is
  * BigInteger inside the state function. Keys are token ids — uniform,
  * bounded state (one entry per live token), no timeout: a token's
  * supply never expires. Emits one updated row per touched token per
  * micro-batch (update-mode semantics).
  */
object SupplyStream {

  case class Delta(index: Long, subindex: Long, token_id: String, delta: String)
  case class TokenKey(index: Long, subindex: Long, token_id: String)
  case class Supply(index: Long, subindex: Long, token_id: String,
                    total_supply: String)

  def running(deltas: Dataset[Delta]): Dataset[Supply] = {
    implicit val keyEnc = Encoders.product[TokenKey]
    implicit val outEnc = Encoders.product[Supply]
    implicit val stateEnc = Encoders.STRING
    deltas
      .groupByKey(d => TokenKey(d.index, d.subindex, d.token_id))
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: TokenKey, rows: Iterator[Delta], state: GroupState[String]) =>
          val current = new BigInteger(state.getOption.getOrElse("0"))
          val next = rows.foldLeft(current) { (acc, d) =>
            acc.add(new BigInteger(d.delta))
          }
          state.update(next.toString)
          Iterator(Supply(key.index, key.subindex, key.token_id, next.toString))
      }
  }
}
