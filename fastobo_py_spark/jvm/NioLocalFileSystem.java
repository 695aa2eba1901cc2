package sparkobo;

import java.io.IOException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.permission.FsPermission;

/** Hadoop's checksummed local filesystem, with permissions set through
 * java.nio instead of one forked {@code chmod} process per file, .crc file
 * and directory (what RawLocalFileSystem does without libhadoop). */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() { super(new Raw()); }

  public static class Raw extends RawLocalFileSystem {
    // declaration order: OWNER_READ, OWNER_WRITE, ..., OTHERS_EXECUTE
    private static final PosixFilePermission[] BITS = PosixFilePermission.values();

    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & 07000) == 0) {  // setuid/setgid/sticky bits take Hadoop's own path
        Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
        for (int i = 0; i < 9; i++) {
          if ((mode & (0400 >> i)) != 0) perms.add(BITS[i]);
        }
        try {
          Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
          return;
        } catch (UnsupportedOperationException e) {
          // not a POSIX file store
        }
      }
      super.setPermission(p, permission);
    }
  }
}
