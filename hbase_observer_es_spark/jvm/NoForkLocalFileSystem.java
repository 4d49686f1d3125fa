package hoes.fs;

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
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local file system, with permissions set in process.
 *
 * <p>Without Hadoop's native library, {@link RawLocalFileSystem} runs a
 * {@code chmod} child process for every file and directory it creates: about
 * 40 per 8-partition parquet write, each a clone of the driver JVM until it
 * execs. Here the same mode bits are set with one {@code chmod} system call
 * through {@link Files#setPosixFilePermissions}. Modes with setuid, setgid or
 * sticky bits, which NIO cannot express, still go through Hadoop's own path.
 *
 * <p>{@code fs.file.impl} names this class (the {@code FileSystem} API: data
 * source writes and reads); {@code fs.AbstractFileSystem.file.impl} names
 * {@link Fs} (the {@code FileContext} API: streaming checkpoints).
 */
public class NoForkLocalFileSystem extends LocalFileSystem {
  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  /** {@link RawLocalFileSystem} whose {@code setPermission} forks nothing. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      // PosixFilePermission lists OWNER_READ .. OTHERS_EXECUTE, bit 0400 down to 0001
      PosixFilePermission[] bits = PosixFilePermission.values();
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      for (int i = 0; i < 9; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(bits[i]);
        }
      }
      Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
    }
  }

  /** The {@code FileContext} form: checksummed, over {@link Raw}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }

  /** What Hadoop's {@code RawLocalFs} is, but delegating to {@link Raw}. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, "file", false);
    }

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
  }
}
