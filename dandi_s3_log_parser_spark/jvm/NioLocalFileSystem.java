// Build (from this directory; the manifest records this file's SHA-256):
// rm -rf /tmp/nio && javac --release 17 -cp "$SPARK_HOME/jars/*" -d /tmp/nio NioLocalFileSystem.java && echo "Source-SHA-256: $(sha256sum NioLocalFileSystem.java | cut -d' ' -f1)" > /tmp/nio.mf && jar --create --date=2000-01-01T00:00:02Z --file nio-local-fs.jar --manifest /tmp/nio.mf -C /tmp/nio .
package dandi_s3_log_parser_spark.jvm;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * The local filesystem with permissions set by a syscall from the JVM.
 *
 * Without libhadoop, RawLocalFileSystem.setPermission forks a `chmod`
 * process for every file, .crc sidecar and directory a write creates.
 * Only setPermission is overridden; checksums, mkdirs, renames and the
 * modes that result are those of the stock LocalFileSystem.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if ((mode & ~0777) == 0) { // NIO has no sticky, setuid or setgid bit
        Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
        for (int i = 0; i < 9; i++) {
          if ((mode & (0400 >> i)) != 0) {
            perms.add(BITS[i]); // OWNER_READ .. OTHERS_EXECUTE, high bit first
          }
        }
        try {
          Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
          return;
        } catch (UnsupportedOperationException e) {
          // not a POSIX filesystem: let Hadoop decide
        }
      }
      super.setPermission(p, permission);
    }
  }
}
