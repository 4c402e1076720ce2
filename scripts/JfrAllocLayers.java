// Allocation of a Flight Recorder recording by engine layer (BENCH/BASELINE.md
// §2, "Profiling one perfbench workload with Flight Recorder").
// Sums the weight of the jdk.ObjectAllocationSample events taken on executor
// threads ("Executor task launch worker-N") inside a time window, and puts
// each sample in the layer of the innermost stack frame that a layer rule
// names; a sample no rule names is "other". Streams the recording, so a
// run's ~1 GB of samples needs no JSON dump and little heap.
// Usage: java scripts/JfrAllocLayers.java <run.jfr> [<from> <to> [<docs>]]
//   from/to: epoch seconds (fractions allowed); default the whole recording.
//   docs: documents processed in the window, to print bytes per document.
// Prints one line per layer: bytes, share of the window's executor total,
// and bytes per document when docs is given.
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
    {"write open/close",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter.<init>",
      "org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter.close"},
    {"row write", "org.apache.spark.sql.execution.datasources.parquet.ParquetOutputWriter.write"},
  };

  public static void main(String[] args) throws Exception {
    Instant from = args.length > 2 ? epoch(args[1]) : Instant.MIN;
    Instant to = args.length > 2 ? epoch(args[2]) : Instant.MAX;
    long docs = args.length > 3 ? Long.parseLong(args[3]) : 0;
    Map<String, Long> bytes = new LinkedHashMap<>();
    for (String[] layer : LAYERS) bytes.put(layer[0], 0L);
    bytes.put("other", 0L);
    long total = 0;
    try (RecordingFile rec = new RecordingFile(Path.of(args[0]))) {
      while (rec.hasMoreEvents()) {
        RecordedEvent e = rec.readEvent();
        if (!e.getEventType().getName().equals("jdk.ObjectAllocationSample")) continue;
        RecordedThread t = e.getThread();
        if (t == null || t.getJavaName() == null ||
            !t.getJavaName().startsWith("Executor task launch worker")) continue;
        if (e.getStartTime().isBefore(from) || e.getStartTime().isAfter(to)) continue;
        long w = e.getLong("weight");
        bytes.merge(layerOf(e.getStackTrace()), w, Long::sum);
        total += w;
      }
    }
    System.out.printf("executor allocation in window: %,d bytes%n", total);
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
    for (RecordedFrame f : frames) {
      if (f.getMethod() == null) continue;
      String name = f.getMethod().getType().getName() + "." + f.getMethod().getName();
      for (String[] layer : LAYERS)
        for (int i = 1; i < layer.length; i++)
          if (name.startsWith(layer[i])) return layer[0];
    }
    return "other";
  }
}
