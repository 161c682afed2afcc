"""Pieces shared by the workloads."""

from __future__ import annotations

import os
import shutil
import sys


class JobGroupTagged:
    """Mixin for benchmark-owned models: tag every Spark job the model
    runs with its class name, from the thread that runs it (job groups
    are thread-local), so the status store attributes jobs per model.
    Model log lines go to stderr: stdout carries the benchmark's report."""

    log_to_stdout = False
    external_logger = staticmethod(lambda line: print(line, file=sys.stderr))

    def pre_build_check(self) -> bool:
        tag_jobs(self.spark, type(self).__name__)
        return super().pre_build_check()


def tag_jobs(spark, group: str) -> None:
    spark.sparkContext.setJobGroup(group, group)


def fresh_dir(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path
