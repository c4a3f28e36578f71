package graft.core

/** Java serialization (task closures, broadcasts) through the sketch's
  * own compact wire format, via the `writeReplace` proxy pattern.
  *
  * Why this exists (measured, 1M-row bench): the default field-walking
  * serializer is the single biggest cost in the whole engine. An EBF
  * over 10^6 urls holds ~10^7 buckets; field-walking ~10^7 tiny objects
  * per broadcast or task closure made the global sketch build
  * anti-scale (local[32] slower than local[8]). Shipping `toBytes`
  * (varint + bit-packed fingerprints) shrinks the payload ~10x and
  * removes the object churn entirely. Aggregation buffers never take
  * this path: `graft.plans.SketchAgg` serializes them as the same wire
  * bytes itself.
  *
  * The wire bytes are the one serialization format. Every sketch
  * writes them through [[WireWriter]] and reads them back in its
  * companion's `fromBytes`, which parses through the checked
  * [[WireReader]] and hands the decoded header to the sketch's
  * constructor, so the constructor's checks run on wire input too.
  * Corrupt bytes fail with an `IllegalArgumentException` naming the
  * format and the field.
  */
trait BytesSerde extends Serializable {
  def toBytes: Array[Byte]

  /** Java serialization proxy: ship wire bytes, rebuild on read. */
  protected def writeReplace(): AnyRef = new SerializedSketch(toBytes)
}

/** The Java-serialization proxy. Dispatches on the magic int. */
final class SerializedSketch(val bytes: Array[Byte]) extends Serializable {
  private def readResolve(): AnyRef = SketchSerde.fromBytes(bytes)
}

object SketchSerde {
  /** Deserialize any sketch by its magic header. */
  def fromBytes(bytes: Array[Byte]): AnyRef =
    new WireReader(bytes, "sketch").int("magic") match {
      case Ebf.MAGIC     => Ebf.fromBytes(bytes)
      case Hll.MAGIC     => Hll.fromBytes(bytes)
      case Cms.MAGIC     => Cms.fromBytes(bytes)
      case Kll.MAGIC     => Kll.fromBytes(bytes)
      case TDigest.MAGIC => TDigest.fromBytes(bytes)
      case FreqSketch.MAGIC | FreqSketch.MagicV1 => FreqSketch.fromBytes(bytes)
      case Theta.MAGIC   => Theta.fromBytes(bytes)
      case BottomKSample.MAGIC => BottomKSample.fromBytes(bytes)
      case CountSketch.MAGIC => CountSketch.fromBytes(bytes)
      case DecayedCms.Magic  => DecayedCms.fromBytes(bytes)
      case m             => throw new IllegalArgumentException(f"unknown sketch magic 0x$m%08x")
    }
}
