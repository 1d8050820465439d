package akr.fs;

import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.attribute.PosixFilePermission;
import java.util.EnumSet;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's local FileSystem with its two forking calls done in-process.
 *
 * RawLocalFileSystem forks {@code readlink} for every link status
 * lookup (four per FileContext rename) and, without libhadoop,
 * {@code chmod} for every file and directory it creates.  {@link Raw} does both
 * with java.nio; everything else, including the .crc checksum layer
 * and the rename checks, is Hadoop's own code.  A sticky bit or a
 * symlink goes to Hadoop's method.
 */
public class ForkFreeLocalFileSystem extends LocalFileSystem {
  public ForkFreeLocalFileSystem() {
    super(new Raw());
  }

  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if (permission.getStickyBit()) {
        super.setPermission(p, permission);
        return;
      }
      // The nine mode bits `chmod %04o` would set, owner-read first.
      Set<PosixFilePermission> bits = EnumSet.noneOf(PosixFilePermission.class);
      for (PosixFilePermission b : PosixFilePermission.values()) {
        if ((permission.toShort() & (0400 >> b.ordinal())) != 0) {
          bits.add(b);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), bits);
    }

    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      // Hadoop's own answer for a non-link is getFileStatus(f).
      if (Files.isSymbolicLink(pathToFile(f).toPath())) {
        return super.getFileLinkStatus(f);
      }
      return getFileStatus(f);
    }
  }

  /** FileContext twin: LocalFs's ChecksumFs over a RawLocalFs of {@link Raw}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new DelegateToFileSystem(
          FsConstants.LOCAL_FS_URI, new Raw(), conf, FsConstants.LOCAL_FS_URI.getScheme(), false) {
        @Override
        public int getUriDefaultPort() {
          return -1;
        }

        @Override
        public FsServerDefaults getServerDefaults(Path f) throws IOException {
          return LocalConfigKeys.getServerDefaults();
        }

        @Override
        @Deprecated
        public FsServerDefaults getServerDefaults() throws IOException {
          return LocalConfigKeys.getServerDefaults();
        }

        @Override
        public boolean isValidName(String src) {
          return true;
        }
      });
    }
  }
}
