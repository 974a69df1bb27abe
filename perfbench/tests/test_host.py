import os
import time

import host


def test_work_cpu_counts_the_cpu_a_process_uses():
    cpu = host.WorkCpu([os.getpid()])
    before = cpu()
    t0 = time.process_time()
    while time.process_time() - t0 < 0.3:
        pass
    assert 0.2 <= cpu() - before < 5.0
