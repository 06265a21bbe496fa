package dpu_olap_spark.jvm;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.InvalidPathException;
import java.nio.file.attribute.PosixFilePermissions;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsConstants;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's checksummed local file system without the processes it forks
 * when the native Hadoop library is absent: a `chmod` for every file and
 * directory it creates, and a `readlink` for every link-status lookup.
 * Both are done here with the same system calls through java.nio.
 *
 * Bound to the "file" scheme with fs.file.impl (FileSystem API) and
 * fs.AbstractFileSystem.file.impl (FileContext API, the {@link Fs} class).
 */
public class NoForkLocalFileSystem extends LocalFileSystem {

  public NoForkLocalFileSystem() {
    super(new Raw());
  }

  /**
   * Refuses to rename onto an existing file, as Hive's ProxyLocalFileSystem
   * does: hive-exec registers that class for the "file" scheme, so it is
   * the binding this one replaces.
   */
  @Override
  @SuppressWarnings("deprecation")
  public boolean rename(Path src, Path dst) throws IOException {
    return !isFile(dst) && super.rename(src, dst);
  }

  /** RawLocalFileSystem with fork-free setPermission and getFileLinkStatus. */
  public static class Raw extends RawLocalFileSystem {

    /** chmod(2) through java.nio; setuid, setgid and sticky modes keep Hadoop's path. */
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      if ((permission.toShort() & ~0777) != 0) {
        super.setPermission(p, permission);
        return;
      }
      Files.setPosixFilePermissions(
          pathToFile(p).toPath(), PosixFilePermissions.fromString(permission.toString()));
    }

    /**
     * Hadoop's non-native link status (the default; see
     * RawLocalFileSystem.useStatIfAvailable), with the link read through
     * java.nio instead of a forked `readlink`.
     */
    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      String target = readLink(new File(f.toString()));
      FileStatus status;
      try {
        FileStatus fs = getFileStatus(f);
        if (target.isEmpty()) {
          return fs;
        }
        status = new FileStatus(fs.getLen(), false, fs.getReplication(), fs.getBlockSize(),
            fs.getModificationTime(), fs.getAccessTime(), fs.getPermission(),
            fs.getOwner(), fs.getGroup(), new Path(target), f);
      } catch (FileNotFoundException e) {
        // a dangling link: File.exists follows it
        if (target.isEmpty()) {
          throw e;
        }
        status = new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(),
            "", "", new Path(target), f);
      }
      status.setSymlink(
          FSLinkResolver.qualifySymlinkTarget(getUri(), status.getPath(), status.getSymlink()));
      return status;
    }

    /** FileUtil.readLink's result: the link's target, "" for anything else. */
    private static String readLink(File f) {
      try {
        java.nio.file.Path p = f.toPath();
        return Files.isSymbolicLink(p) ? Files.readSymbolicLink(p).toString().trim() : "";
      } catch (IOException | InvalidPathException e) {
        return "";
      }
    }
  }

  /** The FileContext binding: Hadoop's LocalFs over {@link Raw}. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(conf));
    }
  }

  /** Hadoop's RawLocalFs, which hard-codes the stock raw class, over {@link Raw}. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(Configuration conf) throws IOException, URISyntaxException {
      super(FsConstants.LOCAL_FS_URI, new Raw(), conf,
          FsConstants.LOCAL_FS_URI.getScheme(), false);
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
