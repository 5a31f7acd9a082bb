"""Child JVMs: the product's mains and the benchmark's own helper mains,
launched with the fixed-heap flags of build.sbt's javaOptions, timed from
launch to exit, with peak resident memory (VmHWM) polled from /proc."""
import os
import signal
import subprocess
import threading
import time

from build import build, classpath

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
CPUS = "4"
TRACE_PROPS = ["-Dspark.extraListeners=perfbench.SpanListener",
               "-Dspark.sql.queryExecutionListeners=perfbench.QeListener"]


def java_cmd(main, args, heap, props=()):
    opts = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    opts += ["-XX:+UseParallelGC", "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC", f"-Xmx{heap}", f"-Xms{heap}",
             "-XX:MetaspaceSize=512m", *props]
    return ["java", *opts, "-cp", classpath(build()), main, *args]


def _vm_hwm_kb(pid):
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Child:
    """A running child JVM. `wall_s` and `peak_rss_mb` are set once it has
    exited; stdout and stderr go to files in `logdir`."""

    def __init__(self, name, main, args, logdir, heap="2g", props=(),
                 cwd=None):
        os.makedirs(logdir, exist_ok=True)
        self.name = name
        self.out_path = os.path.join(logdir, f"{name}.out")
        self._out = open(self.out_path, "w")
        self._err = open(os.path.join(logdir, f"{name}.err"), "w")
        env = dict(os.environ, SPARK_GRAFT_CPUS=CPUS)
        cmd = java_cmd(main, args, heap, props)
        self.t0 = time.monotonic()
        self.proc = subprocess.Popen(cmd, stdout=self._out, stderr=self._err,
                                     stdin=subprocess.DEVNULL, cwd=cwd,
                                     env=env)
        self.peak_kb = 0
        self.wall_s = None
        self._poller = threading.Thread(target=self._poll, daemon=True)
        self._poller.start()

    def _poll(self):
        while self.proc.poll() is None:
            self.peak_kb = max(self.peak_kb, _vm_hwm_kb(self.proc.pid))
            time.sleep(0.05)

    @property
    def peak_rss_mb(self):
        return self.peak_kb / 1024.0

    def wait(self, timeout):
        try:
            code = self.proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            self.stop()
            raise RuntimeError(f"{self.name} did not finish in {timeout}s")
        self.wall_s = time.monotonic() - self.t0
        self._finish()
        return code

    def stop(self, grace=15):
        """SIGTERM (runs the JVM's shutdown hooks), then SIGKILL."""
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                self.proc.wait(timeout=grace)
            except subprocess.TimeoutExpired:
                self.proc.kill()
                self.proc.wait()
        self._finish()

    def _finish(self):
        self._poller.join()
        self._out.close()
        self._err.close()

    def stdout(self):
        with open(self.out_path) as f:
            return f.read()


def run(name, main, args, logdir, heap="2g", props=(), timeout=170):
    """Run a child to completion; returns (exit code, Child)."""
    c = Child(name, main, args, logdir, heap, props)
    return c.wait(timeout), c
