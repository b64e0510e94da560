from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


@pytest.fixture(scope="session")
def spark():
    from data_quality_check_spark.session import get_spark

    s = get_spark(master="local[4]", shuffle_partitions=8,
                  app_name="dqc-tests")
    yield s
    s.stop()


@pytest.fixture()
def py4j_commands(spark):
    """py4j commands (memory deletes excluded) that `build()` sends
    to the JVM.  Memory-delete commands free proxies of earlier
    objects whenever Python drops them, which gc.collect() /
    gc.disable() around the count do not fully hold back."""
    import gc

    from py4j import protocol

    client = spark.sparkContext._gateway._gateway_client

    def count(build) -> int:
        send = client.send_command
        sent = []

        def counting(command, *a, **kw):
            if not command.startswith(protocol.MEMORY_COMMAND_NAME):
                sent.append(command)
            return send(command, *a, **kw)

        gc.collect()
        gc.disable()
        client.send_command = counting
        try:
            build()
        finally:
            client.send_command = send
            gc.enable()
        return len(sent)

    return count


@pytest.fixture(scope="session")
def images_pdf():
    from data_quality_check_spark.sources import images as IM

    return IM.generate_pandas(0.001)


@pytest.fixture(scope="session")
def oracle_labels(images_pdf):
    from tests.oracle import evaluate

    return evaluate(images_pdf).sort_values("image_id").reset_index(drop=True)


@pytest.fixture(scope="session")
def pipeline_results(spark):
    from data_quality_check_spark.plans import pipeline
    from data_quality_check_spark.sources import images as IM

    df = IM.read_images(spark, 0.001)
    res = pipeline.results_select(pipeline.quality_frame(df))
    return res.toPandas().sort_values("image_id").reset_index(drop=True)
