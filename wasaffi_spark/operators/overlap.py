"""Independent driver-side job chains, run side by side, failing together.

The one place the engine runs Spark work on extra driver threads (guide
§2.6: the jobs of one chain back-fill the idle cores of another).
Concurrency changes scheduling only: every chain is deterministic, so
the rows never depend on it.

- Attribution: a worker thread starts with the Spark local properties
  of the calling thread (job group, description, job tags), so its
  jobs are attributed like the caller's.
- Cancellation: the workers of one call also carry one job tag of
  their own. Tags pass on, so the workers of a call made inside a
  worker carry the tags of every enclosing call. When a chain fails,
  every job with the tag is cancelled (``SparkContext.
  cancelJobsWithTag``) until all chains have stopped, then the first
  error is re-raised. No job of a failed call keeps running detached.
"""

from __future__ import annotations

import threading
import uuid
from concurrent.futures import ThreadPoolExecutor, wait

from pyspark import SparkContext


def overlap(*thunks):
    """Run independent thunks side by side and return their results as
    a tuple, in order. Every thunk runs on a worker thread while the
    caller waits: Spark calls made from the driver's main thread cost
    it more than the same calls from a worker (measured on a 4-core VM,
    ``local[2]``: the maintained-search op ran 4-8% slower with its
    first thunk inline)."""
    sc = SparkContext.getOrCreate()
    jsc = sc._jsc.sc()
    props = jsc.getLocalProperties()
    tag = f"wasaffi-overlap-{uuid.uuid4().hex}"
    errors: list[BaseException] = []
    lock = threading.Lock()

    def run(fn):
        jsc.setLocalProperties(props.clone())
        sc.addJobTag(tag)
        try:
            return fn()
        except BaseException as e:
            with lock:
                errors.append(e)
            sc.cancelJobsWithTag(tag)
            raise

    with ThreadPoolExecutor(len(thunks)) as pool:
        pending = futs = [pool.submit(run, t) for t in thunks]
        while pending:
            _done, pending = wait(pending, timeout=0.5)
            if errors:
                # a chain may have started a job after the last cancel
                sc.cancelJobsWithTag(tag)
    if errors:
        raise errors[0]
    return tuple(f.result() for f in futs)
