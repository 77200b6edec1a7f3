"""Starting and stopping the program's JVMs: one fresh `java -cp` process
per instance, never sbt, with every file it writes kept under the run's
work directory."""
import json
import os
import re
import signal
import subprocess
import time
import urllib.request

from build import SPARK_JARS, classpath

# the module opens build.sbt passes to forked runs (Spark on JDK 17 outside
# spark-submit), plus the session defaults build.sbt's javaOptions set
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]
# a fixed-size heap: with only -Xmx, G1 grows the heap in timing-dependent
# steps, and GC frequency then swings from run to run. Memory use is read
# from the heap the program holds after each collection (HeapListener), not
# from the process size, which this flag pins.
HEAP = ["-Xms2g", "-Xmx2g"]
# Spark's shuffle-exchange and result-stage pools start a new thread for
# every submission until they hold 1024 threads, idle ones lingering 60 s:
# with the defaults a dashboard run reached 822 threads, and the two caps
# allow 2,048 between them, enough to hit a container's task limit. Under
# four clients nearly all of those threads sit idle.
THREAD_CAPS = ["-Dspark.sql.shuffleExchange.maxThreadThreshold=64",
               "-Dspark.sql.resultQueryStage.maxThreadThreshold=64"]


def jvm_flags(work, traced):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    listeners = "perfbench.ConfListener,perfbench.HeapListener"
    if traced:
        listeners = "perfbench.TraceListener," + listeners
    flags = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        *HEAP, *THREAD_CAPS, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={tmp}", "-Dspark.ui.enabled=false",
        "-Dspark.sql.session.timeZone=UTC",
        f"-Dspark.extraListeners={listeners}",
        f"-Dperfbench.conf.out={os.path.join(work, 'spark-conf.json')}",
        f"-Dperfbench.heap.out={os.path.join(work, 'heap.jsonl')}"]
    if traced:
        flags += ["-Dspark.sql.queryExecutionListeners=perfbench.TraceListener",
                  f"-Dperfbench.trace.out={os.path.join(work, 'trace.jsonl')}"]
    return flags


class Instance:
    """One program JVM: `start` is the launch time, `pid` its process. With
    `capture`, its standard input and output are pipes to the caller."""

    def __init__(self, classes, work, traced, main, args, tag, capture=False):
        self.work = work
        self.log_path = os.path.join(work, f"{tag}.log")
        self.flags = jvm_flags(work, traced)
        env = dict(os.environ, SPARK_HOME=os.path.dirname(SPARK_JARS),
                   SPARK_SCALA_VERSION="2.13", TMPDIR=os.path.join(work, "tmp"))
        self.rss_mb, self.ended = None, False
        self.start = time.time()
        self.log = open(self.log_path, "w")
        self.proc = subprocess.Popen(
            ["java"] + self.flags + ["-cp", classpath(classes), main] + args,
            cwd=work, env=env, stdin=subprocess.PIPE if capture else subprocess.DEVNULL,
            stdout=subprocess.PIPE if capture else self.log,
            stderr=self.log, text=True,
            start_new_session=True)
        self.pid = self.proc.pid

    def alive(self):
        return self.proc.poll() is None

    def sample_rss(self):
        """Keeps the JVM's VmHWM (peak resident size) for the run record."""
        try:
            with open(f"/proc/{self.pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        self.rss_mb = int(line.split()[1]) / 1024.0
        except OSError:
            pass

    def end(self):
        """Asks the JVM to end so that Spark stops its context, which writes
        the listeners' files: a captured main sees the end of its input, a
        server gets SIGTERM (Spark's shutdown hook). Does not wait."""
        if self.ended:
            return
        self.ended = True
        if self.proc.stdin:
            try:
                self.proc.stdin.close()
            except OSError:         # the main has already exited
                pass
        elif self.alive():
            self.proc.send_signal(signal.SIGTERM)

    def stop(self, timeout=60):
        """`end`, then waits; SIGKILLs the group if the JVM hangs."""
        self.end()
        try:
            self.proc.wait(timeout)
        except subprocess.TimeoutExpired:
            os.killpg(self.pid, signal.SIGKILL)
            self.proc.wait()
        if self.proc.stdout:
            self.proc.stdout.close()
        self.log.close()

    def conf(self):
        try:
            with open(os.path.join(self.work, "spark-conf.json")) as f:
                return json.load(f)
        except (OSError, ValueError):
            return {}

    def heap_events(self):
        """HeapListener's events: one per garbage collection, plus the
        forced collection at the end of the application."""
        with open(os.path.join(self.work, "heap.jsonl")) as f:
            return [json.loads(line) for line in f if line.strip()]

    def log_tail(self, n=30):
        with open(self.log_path) as f:
            return "".join(f.readlines()[-n:])


class Server(Instance):
    """`graft.service.HttpMain` serving `data_dir` on an ephemeral port."""

    def __init__(self, classes, work, traced, data_dir, tag="server"):
        super().__init__(classes, work, traced, "graft.service.HttpMain",
                         [data_dir, "0"], tag)
        self.port = None

    def wait_ready(self, timeout=150):
        deadline = time.time() + timeout
        while time.time() < deadline:
            if not self.alive():
                raise RuntimeError("server exited during start:\n" + self.log_tail())
            if self.port is None:
                with open(self.log_path) as f:
                    m = re.search(r"serving .* on http://127\.0\.0\.1:(\d+)", f.read())
                if m:
                    self.port = int(m.group(1))
            if self.port is not None:
                try:
                    with urllib.request.urlopen(
                            f"http://127.0.0.1:{self.port}/health", timeout=5) as r:
                        if r.status == 200:
                            return
                except OSError:
                    pass
            time.sleep(0.05)
        raise RuntimeError("server did not become healthy:\n" + self.log_tail())
