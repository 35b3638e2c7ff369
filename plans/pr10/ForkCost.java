import java.net.URI;
import java.nio.file.Files;
import java.util.EnumSet;
import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.*;

/** Per-call cost of local file operations through stock Hadoop
  * (RawLocalFileSystem, LocalFs) and through the engine's java.nio
  * filesystem (graft.sources.NioLocalFileSystem, NioLocalFs): 100 creates
  * through FileSystem, 100 FileContext renames with OVERWRITE, and one
  * listFiles over the 100 files. Each side runs twice, alternating; the
  * first pass of each warms the JVM.
  *
  * From the root of a checkout, after `sbt compile`:
  *   javac -cp "/opt/spark/jars/*:target/scala-2.13/classes" -d /tmp plans/pr10/ForkCost.java
  *   java -cp "/opt/spark/jars/*:target/scala-2.13/classes:/tmp" ForkCost
  */
public class ForkCost {
  static final URI ROOT = URI.create("file:///");

  public static void main(String[] args) throws Exception {
    int n = 100;
    for (String side : new String[]{"stock", "nio", "stock", "nio"}) {
      boolean stock = side.equals("stock");
      Configuration c = new Configuration(false);
      c.set("fs.AbstractFileSystem.file.impl",
          stock ? "org.apache.hadoop.fs.local.LocalFs" : "graft.sources.NioLocalFs");
      LocalFileSystem fs = stock ? new LocalFileSystem(new RawLocalFileSystem())
          : new graft.sources.NioLocalFileSystem();
      fs.initialize(ROOT, c);
      FileContext fc = FileContext.getFileContext(AbstractFileSystem.createFileSystem(ROOT, c), c);
      Path dir = new Path(Files.createTempDirectory("forkcost-" + side).toString());
      long t0 = System.nanoTime();
      for (int i = 0; i < n; i++) {
        FSDataOutputStream o = fs.create(new Path(dir, "f" + i), true);
        o.write(1);
        o.close();
      }
      long createNs = System.nanoTime() - t0, renameNs = 0;
      for (int i = 0; i < n; i++) {
        Path tmp = new Path(dir, "t" + i);
        FSDataOutputStream o = fc.create(tmp, EnumSet.of(CreateFlag.CREATE, CreateFlag.OVERWRITE));
        o.write(1);
        o.close();
        long r0 = System.nanoTime();
        fc.rename(tmp, new Path(dir, "f" + i), Options.Rename.OVERWRITE);
        renameNs += System.nanoTime() - r0;
      }
      long l0 = System.nanoTime();
      RemoteIterator<LocatedFileStatus> it = fs.listFiles(dir, false);
      int k = 0;
      while (it.hasNext()) { it.next(); k++; }
      long listNs = System.nanoTime() - l0;
      System.out.printf("%s: create %.2f ms, FileContext rename %.2f ms, listFiles %.2f ms per file (%d files)%n",
          side, createNs / 1e6 / n, renameNs / 1e6 / n, listNs / 1e6 / k, k);
      fs.delete(dir, true);
    }
  }
}
