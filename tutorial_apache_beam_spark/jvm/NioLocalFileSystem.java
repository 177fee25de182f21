package tutorial_apache_beam_spark.hadoop;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;
import org.apache.hadoop.io.nativeio.NativeIO;

/**
 * Hadoop's checksummed local file system ({@code .crc} sidecars written and
 * verified as before) whose permissions are set through java.nio. Without
 * libhadoop, {@link RawLocalFileSystem#setPermission} starts a {@code chmod}
 * process for every file and directory it creates.
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** Create and mkdirs reach {@code setPermission} by virtual dispatch. */
  public static class Raw extends RawLocalFileSystem {
    // OWNER_READ .. OTHERS_EXECUTE: the bits 0400 down to 0001.
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      int mode = permission.toShort();
      if (NativeIO.isAvailable() || (mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      java.nio.file.Path file = pathToFile(p).toPath();
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < BITS.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(BITS[i]);
        }
      }
      try {
        // `chmod 0755` keeps a directory's setuid and setgid bits;
        // chmod(2) with the nine bits alone would clear them.
        int current = (Integer) Files.getAttribute(file, "unix:mode");
        if ((current & 0170000) == 0040000 && (current & 06000) != 0) {
          super.setPermission(p, permission);
          return;
        }
        Files.setPosixFilePermissions(file, perms);
      } catch (UnsupportedOperationException notPosix) {
        super.setPermission(p, permission);
      }
    }
  }
}
