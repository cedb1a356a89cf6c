package sparkgraft;

import java.io.File;
import java.io.FileNotFoundException;
import java.io.IOException;
import java.net.URI;
import java.net.URISyntaxException;
import java.nio.file.Files;
import java.nio.file.NoSuchFileException;
import java.nio.file.attribute.PosixFilePermission;
import java.nio.file.attribute.UserPrincipal;
import java.util.EnumSet;
import java.util.Map;
import java.util.Set;

import org.apache.hadoop.conf.Configuration;
import org.apache.hadoop.fs.ChecksumFs;
import org.apache.hadoop.fs.DelegateToFileSystem;
import org.apache.hadoop.fs.FSLinkResolver;
import org.apache.hadoop.fs.FileStatus;
import org.apache.hadoop.fs.FsServerDefaults;
import org.apache.hadoop.fs.LocalFileSystem;
import org.apache.hadoop.fs.Path;
import org.apache.hadoop.fs.RawLocalFileSystem;
import org.apache.hadoop.fs.local.LocalConfigKeys;
import org.apache.hadoop.fs.permission.FsPermission;

/**
 * Hadoop's local filesystem with its two per-call process spawns done in-process.
 *
 * <p>Without native libhadoop, {@code RawLocalFileSystem} forks {@code chmod} for every file
 * create and mkdir ({@code setPermission}) and {@code readlink} for every link lookup
 * ({@code getFileLinkStatus}, eight per atomic rename through FileContext). Both are answered
 * here through {@code java.nio.file} with the same results; everything else, checksums
 * included, is Hadoop's own code. Bound as {@code fs.file.impl} (FileSystem API) and, through
 * {@link Fs}, as {@code fs.AbstractFileSystem.file.impl} (FileContext API).
 */
public class NioLocalFileSystem extends LocalFileSystem {
  public NioLocalFileSystem() {
    super(new Raw());
  }

  /** The raw (checksum-free) filesystem both bindings wrap. */
  public static class Raw extends RawLocalFileSystem {
    @Override
    public void setPermission(Path p, FsPermission permission) throws IOException {
      short mode = permission.toShort();
      if ((mode & ~0777) != 0) { // sticky bit: java.nio cannot set it
        super.setPermission(p, permission);
        return;
      }
      Set<PosixFilePermission> perms = EnumSet.noneOf(PosixFilePermission.class);
      PosixFilePermission[] bits = PosixFilePermission.values(); // OWNER_READ .. OTHERS_EXECUTE
      for (int i = 0; i < bits.length; i++) {
        if ((mode & (0400 >> i)) != 0) {
          perms.add(bits[i]);
        }
      }
      try {
        Files.setPosixFilePermissions(pathToFile(p).toPath(), perms);
      } catch (NoSuchFileException e) {
        throw new FileNotFoundException("File " + p + " does not exist");
      }
    }

    @Override
    public FileStatus getFileLinkStatus(Path f) throws IOException {
      FileStatus st = linkStatus(f);
      if (st.isSymlink()) {
        st.setSymlink(FSLinkResolver.qualifySymlinkTarget(getUri(), st.getPath(), st.getSymlink()));
      }
      return st;
    }

    @Override
    public Path getLinkTarget(Path f) throws IOException {
      return linkStatus(f).getSymlink();
    }

    /** Hadoop's status of {@code f} without dereferencing a final link, unqualified target. */
    private FileStatus linkStatus(Path f) throws IOException {
      // Hadoop reads the link at f.toString(), so a scheme-qualified path reads as its target
      java.nio.file.Path link = new File(f.toString()).toPath();
      if (!Files.isSymbolicLink(link)) {
        return getFileStatus(f);
      }
      Path target = new Path(Files.readSymbolicLink(link).toString());
      FileStatus st;
      try {
        st = getFileStatus(f);
      } catch (FileNotFoundException e) { // dangling link
        return new FileStatus(0, false, 0, 0, 0, 0, FsPermission.getDefault(), "", "", target, f);
      }
      // the target's mode and owners, as Hadoop reads them from `ls -ld`
      Map<String, Object> attrs = Files.readAttributes(pathToFile(f).toPath(), "unix:mode,owner,group");
      return new FileStatus(st.getLen(), false, st.getReplication(), st.getBlockSize(),
          st.getModificationTime(), st.getAccessTime(),
          new FsPermission((short) ((Integer) attrs.get("mode") & 01777)),
          ((UserPrincipal) attrs.get("owner")).getName(),
          ((UserPrincipal) attrs.get("group")).getName(), target, f);
    }
  }

  /** FileContext binding: Hadoop's {@code LocalFs} with {@link Raw} underneath. */
  public static class Fs extends ChecksumFs {
    public Fs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(new RawFs(uri, conf));
    }
  }

  /** Hadoop's {@code RawLocalFs} (package-private there) over {@link Raw}. */
  static class RawFs extends DelegateToFileSystem {
    RawFs(URI uri, Configuration conf) throws IOException, URISyntaxException {
      super(uri, new Raw(), conf, "file", false);
    }

    @Override
    public int getUriDefaultPort() {
      return -1;
    }

    @Override
    @Deprecated
    public FsServerDefaults getServerDefaults() throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public FsServerDefaults getServerDefaults(Path f) throws IOException {
      return LocalConfigKeys.getServerDefaults();
    }

    @Override
    public boolean isValidName(String src) {
      return true;
    }
  }
}
