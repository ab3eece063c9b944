"""wait_children waits for orphans of this process's descendants."""

import os
import subprocess
import sys
import textwrap

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_wait_children_outlasts_an_orphaned_grandchild(tmp_path):
    mark = tmp_path / "grandchild-ended"
    # the child exits at once; the grandchild it started is orphaned and
    # writes the mark a second later, so the mark is there only if
    # wait_children adopted and waited for it
    grandchild = f"import time; time.sleep(1); open({str(mark)!r}, 'w').close()"
    child = f"import subprocess, sys; subprocess.Popen([sys.executable, '-c', {grandchild!r}])"
    script = textwrap.dedent(f"""
        import os, subprocess, sys
        from perfbench.procmem import adopt_orphans, wait_children
        adopt_orphans()
        subprocess.run([sys.executable, "-c", {child!r}], check=True)
        wait_children()
        print("ended" if os.path.exists({str(mark)!r}) else "running")
    """)
    out = subprocess.run([sys.executable, "-c", script], cwd=ROOT, capture_output=True,
                         text=True, check=True, timeout=60)
    assert out.stdout.strip() == "ended"


def test_wait_children_kills_what_outlives_the_grace(tmp_path):
    script = textwrap.dedent("""
        import subprocess, sys, time
        from perfbench.procmem import wait_children
        subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
        t = time.monotonic()
        wait_children(grace_s=0.5)
        print(time.monotonic() - t < 10)
    """)
    out = subprocess.run([sys.executable, "-c", script], cwd=ROOT, capture_output=True,
                         text=True, check=True, timeout=60)
    assert out.stdout.strip() == "True"
