package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

/** The per-node context surface of the reference's `fbcontext`
  * (`fbcontext/fbcontext.go:86-99`): message subscribe/accepts gating,
  * send/ack against the control-plane bus, leader identity, and the
  * instance id.
  *
  * Cluster-singleton concerns usually collapse on Spark: within ONE
  * application the driver IS the singleton, so leadership defaults to
  * constant `true`, and the instance id is the Spark application id
  * rather than IP+random suffix (`util/util.go:68-76`). Deployments
  * running SEVERAL pipeline drivers configure `leaderelectionpath` —
  * [[GraftApp]] then wires a real [[LeaderElection]] (the ZK recipe of
  * `leader/leader.go:27-122` on shared storage) through
  * [[configureLeader]], the analog of the reference's
  * `ConfigureLeader` (`fbcontext/fbcontext.go:35-39`).
  */
final class FbContext(bus: MessageBus, val instanceId: String) {

  @volatile private var leaderFunc: () => Boolean = () => true

  /** single-app deployments: the driver is the cluster singleton;
    * multi-instance deployments: whatever the election says. */
  def isLeader: Boolean = leaderFunc()

  /** Inject the leadership source (`fbcontext.go:35-39`). */
  def configureLeader(f: () => Boolean): Unit = leaderFunc = f

  private val accepted = ConcurrentHashMap.newKeySet[String]()

  /** Subscribe a handler to a set of message types; delivery is gated
    * by [[acceptsMessage]] exactly like the reference's
    * `AcceptsMessage` check (`executor/message.go:76-108`).
    */
  def subscribe(messageTypes: Seq[String], handler: BusMessage => Unit): Unit = {
    messageTypes.foreach(accepted.add)
    bus.subscribe(messageTypes, m => if (acceptsMessage(m.messageType)) handler(m))
  }

  def acceptsMessage(messageType: String): Boolean = accepted.contains(messageType)

  def subscriptions: Set[String] = accepted.asScala.toSet

  /** at-least-once broadcast over the compacted control topic —
    * handlers must stay idempotent (`docs/messaging.md:78-82`).
    */
  def sendMessage(m: BusMessage): Unit = bus.send(m)

  def ackMessage(messageType: String, key: String): Unit = bus.ack(messageType, key)
}
