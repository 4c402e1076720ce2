// Allocation of a Flight Recorder recording by engine layer (BENCH/BASELINE.md
// §2, "Profiling one perfbench workload with Flight Recorder").
// Sums the weight of the jdk.ObjectAllocationSample events inside a time
// window. A sample taken on an executor thread ("Executor task launch
// worker-N") goes to the layer of the innermost stack frame that a layer rule
// names; a sample no rule names is "other". Samples of every other thread
// (the driver's main thread, its scheduler, RPC and listener threads) make
// one "driver threads" line, so the lines add up to the JVM-wide allocation
// that perfbench's alloc_bytes_per_doc counts. Streams the recording, so a
// run's ~1 GB of samples needs no JSON dump and little heap.
// Usage: java scripts/JfrAllocLayers.java <run.jfr> [<from> <to> [<docs>]]
//   from/to: epoch seconds (fractions allowed); default the whole recording.
//   docs: documents processed in the window, to print bytes per document.
// Prints one line per layer and one for the driver threads: bytes, share of
// the window's JVM-wide total, and bytes per document when docs is given.
import java.nio.file.Path;
import java.time.Instant;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;

import jdk.jfr.consumer.RecordedEvent;
import jdk.jfr.consumer.RecordedFrame;
import jdk.jfr.consumer.RecordedStackTrace;
import jdk.jfr.consumer.RecordedThread;
import jdk.jfr.consumer.RecordingFile;

public final class JfrAllocLayers {

  /** Layer, then the "type.method" prefixes that put a frame in it. A frame
    * matching two layers goes to the first listed. */
  private static final String[][] LAYERS = {
    {"kernel", "graft.extract."},
    {"source read", "graft.sources.",
      "org.apache.spark.sql.execution.datasources.FileScanRDD",
      "org.apache.parquet.hadoop.ParquetFileReader",
      "org.apache.spark.sql.execution.datasources.parquet.Vectorized"},
    {"shuffle read", "org.apache.spark.shuffle.BlockStoreShuffleReader",
      "org.apache.spark.storage.ShuffleBlockFetcherIterator",
      // UnsafeRowSerializer's deserialization stream
      "org.apache.spark.sql.execution.UnsafeRowSerializerInstance$$anon$2"},
    {"shuffle write", "org.apache.spark.shuffle.",
      "org.apache.spark.storage.DiskBlockObjectWriter",
      "org.apache.spark.util.collection.ExternalSorter"},
    {"task (de)serialization", "org.apache.spark.serializer.JavaSerializerInstance",
      "org.apache.spark.broadcast.TorrentBroadcast",
      "org.apache.spark.executor.Executor$TaskRunner.obtainSession"},
    {"codegen", "org.apache.spark.sql.catalyst.expressions.codegen.", "org.codehaus.janino."},
    // parquet-mr's page compressor, wherever the page is flushed: at a
    // writer's close, or mid-write when a page fills
    {"page compression", "org.apache.parquet.hadoop.CodecFactory$HeapBytesCompressor.compress"},
    {"write open/close",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter.<init>",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter.close"},
    {"row write", "org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter.write"},
  };

  /** Layers of a frame that sits under a given outer frame: layer, frame
    * prefix, outer-frame prefix. Checked before LAYERS at each frame. */
  private static final String[][] NESTED = {
    // the sort a partitioned write runs before its writers (Spark's V1Writes)
    {"write sort", "org.apache.spark.util.collection.unsafe.sort.UnsafeExternalSorter",
      "org.apache.spark.sql.execution.datasources.FileFormatWriter"},
  };

  private static final String DRIVER = "driver threads";

  public static void main(String[] args) throws Exception {
    Instant from = args.length > 2 ? epoch(args[1]) : Instant.MIN;
    Instant to = args.length > 2 ? epoch(args[2]) : Instant.MAX;
    long docs = args.length > 3 ? Long.parseLong(args[3]) : 0;
    Map<String, Long> bytes = new LinkedHashMap<>();
    for (String[] layer : LAYERS) bytes.put(layer[0], 0L);
    for (String[] layer : NESTED) bytes.put(layer[0], 0L);
    bytes.put("other", 0L);
    bytes.put(DRIVER, 0L);
    long executor = 0, total = 0;
    try (RecordingFile rec = new RecordingFile(Path.of(args[0]))) {
      while (rec.hasMoreEvents()) {
        RecordedEvent e = rec.readEvent();
        if (!e.getEventType().getName().equals("jdk.ObjectAllocationSample")) continue;
        if (e.getStartTime().isBefore(from) || e.getStartTime().isAfter(to)) continue;
        RecordedThread t = e.getThread();
        long w = e.getLong("weight");
        if (t != null && t.getJavaName() != null &&
            t.getJavaName().startsWith("Executor task launch worker")) {
          bytes.merge(layerOf(e.getStackTrace()), w, Long::sum);
          executor += w;
        } else bytes.merge(DRIVER, w, Long::sum);
        total += w;
      }
    }
    System.out.printf("allocation in window: %,d bytes, %,d of them on executor threads%n",
      total, executor);
    for (Map.Entry<String, Long> b : bytes.entrySet())
      System.out.printf("%-24s %,16d  %5.1f%%%s%n", b.getKey(), b.getValue(),
        total == 0 ? 0.0 : 100.0 * b.getValue() / total,
        docs == 0 ? "" : String.format("  %,9d B/doc", b.getValue() / docs));
  }

  private static Instant epoch(String s) {
    double v = Double.parseDouble(s);
    long sec = (long) Math.floor(v);
    return Instant.ofEpochSecond(sec, Math.round((v - sec) * 1e9));
  }

  /** The layer of the innermost frame a rule names, else "other". */
  private static String layerOf(RecordedStackTrace st) {
    if (st == null) return "other";
    List<RecordedFrame> frames = st.getFrames(); // innermost first
    String[] names = new String[frames.size()];
    for (int i = 0; i < names.length; i++) {
      RecordedFrame f = frames.get(i);
      names[i] = f.getMethod() == null ? ""
        : f.getMethod().getType().getName() + "." + f.getMethod().getName();
    }
    for (int i = 0; i < names.length; i++) {
      for (String[] layer : NESTED)
        if (names[i].startsWith(layer[1]))
          for (int j = i + 1; j < names.length; j++)
            if (names[j].startsWith(layer[2])) return layer[0];
      for (String[] layer : LAYERS)
        for (int k = 1; k < layer.length; k++)
          if (names[i].startsWith(layer[k])) return layer[0];
    }
    return "other";
  }
}
