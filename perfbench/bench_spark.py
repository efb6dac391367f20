"""Process plumbing: the scratch tree, the Spark session, the RSS sampler.

All files a run touches live under ``<checkout>/.bench_work/<run>``:
temp files, Spark local dirs, the JVM's ``java.io.tmpdir`` and (traced
runs) the event log. The session comes from the package's own
``session.get_spark`` at ``local[<cores>]``; the benchmark only adds
confs from outside, through ``PYSPARK_SUBMIT_ARGS``, before the JVM
starts.
"""

from __future__ import annotations

import os
import shutil
import threading

DRIVER_MEMORY = "2g"


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def prepare_env(work: str, trace: bool) -> str | None:
    """Point every temp path at ``work``; returns the event-log dir when
    tracing. Must run before pyspark starts its JVM."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    # a fixed, pre-touched driver heap: the JVM's resident size then does
    # not follow when G1 happens to grow the heap, so peak_rss_mb moves
    # with what the program holds beyond it (Python workers, Arrow
    # batches, the driver interpreter, off-heap buffers)
    # fixed JIT compiler threads: tree_cpu_s can then tell their CPU time
    # (warm-up, which a run of seconds cannot wait out) from the job's
    java_opts = (f"-Xms{DRIVER_MEMORY} -XX:+AlwaysPreTouch "
                 f"-XX:-UseDynamicNumberOfCompilerThreads "
                 f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}")
    # every JVM, the spark-submit launcher's too: temp files under work,
    # and no perf-data file (HotSpot writes it under /tmp whatever
    # java.io.tmpdir says)
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-XX:-UsePerfData "
                                       f"-Djava.io.tmpdir={tmp}")
    confs = [
        ("spark.ui.showConsoleProgress", "false"),
        ("spark.sql.warehouse.dir", os.path.join(work, "spark-warehouse")),
    ]
    log_dir = None
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        confs += [("spark.eventLog.enabled", "true"),
                  ("spark.eventLog.dir", "file://" + log_dir),
                  ("spark.eventLog.compress", "false"),
                  ("spark.eventLog.rolling.enabled", "false")]
    args = [f'--driver-java-options "{java_opts}"']
    args += [f"--conf {k}={v}" for k, v in confs]
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join(args) + " pyspark-shell"
    import tempfile
    tempfile.tempdir = tmp
    return log_dir


def start_session(cores: int):
    import docling_rag_spark
    from docling_rag_spark.session import get_spark

    spark = get_spark(app_name="perfbench", cores=cores)
    docling_rag_spark.ship(spark)
    return spark


def shutdown_jvm(timeout: float = 60.0) -> None:
    """Stop the py4j gateway and wait for the JVM process to exit (its
    Python worker daemons exit with it)."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    finally:
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            if proc.stdin:
                proc.stdin.close()
            proc.wait(timeout=timeout)
        except Exception:
            proc.kill()
            proc.wait(timeout=timeout)


def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(name))
    return kids


def _tree(root: int) -> list[int]:
    kids = _children()
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        stack.extend(kids.get(pid, ()))
        out.append(pid)
    return out


CLK_TCK = os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler threads; /proc truncates names to 15 characters
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _cpu_ticks(stat_path: str, reaped: bool) -> tuple[str, int]:
    with open(stat_path) as f:
        stat = f.read()
    comm = stat[stat.index("(") + 1:stat.rindex(")")]
    fields = stat.rsplit(")", 1)[1].split()
    # utime, stime (fields 14-15 of proc(5)); cutime, cstime (16-17)
    return comm, sum(int(x) for x in fields[11:15 if reaped else 13])


def tree_cpu_s(root: int | None = None) -> tuple[float, float]:
    """(all, jit): CPU seconds (user + system) a process tree has run,
    and the part of it the JVMs' JIT compiler threads ran.

    ``all`` is every live process's own time plus that of the children
    it has reaped, so a Python worker that exits moves its time into its
    parent's and the total never drops. Time the host's other guests or
    processes take from these CPUs is not in it, which makes it steadier
    than wall time on a shared machine. The compiler threads live as
    long as their JVM (``prepare_env`` turns off HotSpot's dynamic
    compiler-thread count), so their own times never drop either."""
    total = jit = 0
    for pid in _tree(os.getpid() if root is None else root):
        try:
            total += _cpu_ticks(f"/proc/{pid}/stat", True)[1]
            tids = os.listdir(f"/proc/{pid}/task")
        except (OSError, ValueError):
            continue
        for tid in tids:
            try:
                comm, ticks = _cpu_ticks(f"/proc/{pid}/task/{tid}/stat",
                                         False)
            except (OSError, ValueError):
                continue
            if comm.startswith(JIT_THREADS):
                jit += ticks
    return total / CLK_TCK, jit / CLK_TCK


def tree_pss_bytes(root: int) -> int:
    """Resident memory of a process tree with shared pages split between
    their sharers (PSS): the JVM's short-lived fork+exec children and the
    forked Python workers would otherwise count the pages they share with
    their parent once per process."""
    total = 0
    for pid in _tree(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Background sampler of this process tree's peak resident memory."""

    def __init__(self, interval: float = 1.0):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def dir_files(root: str) -> dict[str, tuple[int, int, int]]:
    """relative path -> (inode, size, mtime_ns) for every file under root."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for fn in files:
            p = os.path.join(d, fn)
            st = os.stat(p)
            out[os.path.relpath(p, root)] = (st.st_ino, st.st_size,
                                             st.st_mtime_ns)
    return out


def written_since(before: dict, after: dict) -> tuple[int, int, set]:
    """(bytes, files, dirs) of files new or replaced between two
    ``dir_files`` snapshots; dirs are the parent dirs that changed."""
    nbytes = nfiles = 0
    dirs = set()
    for rel, sig in after.items():
        if before.get(rel) != sig:
            nbytes += sig[1]
            nfiles += 1
            dirs.add(os.path.dirname(rel))
    return nbytes, nfiles, dirs
