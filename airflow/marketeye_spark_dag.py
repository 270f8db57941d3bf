# Airflow DAG orchestrating the Spark-native marketeye engine — the
# scheduled entry point replacing the reference's in-process PythonOperator
# pipeline (M/dags/marketeye_etl_dag.py). Airflow only schedules; every
# stage is one spark-submit of graft.pipeline.StageRunner, and stages hand
# off through parquet stage dirs instead of JSON files on a shared volume.
# StageRunner sets its own session conf (graft.SparkEntry.session), so the
# tasks pass none. On a local master (`local[*]`) that conf includes the
# shuffle partition count, half the threads; on a cluster the width is the
# deployer's, and with none passed here Spark's default of 200 applies:
# set spark.sql.shuffle.partitions through the connection or the operator's
# conf to size it to the day's data.
#
# Requires: apache-airflow + apache-airflow-providers-apache-spark
# (public packages), a Spark cluster (or local[*]) reachable from the
# `spark_default` connection, and the engine jar on the submit path.
from datetime import datetime, timedelta

from airflow import DAG
from airflow.providers.apache.spark.operators.spark_submit import (
    SparkSubmitOperator,
)

JAR = "/opt/marketeye/etlmarketeye_airflowspark_2.13-0.1.0.jar"
RAW_DIR = "/data/marketeye/raw"
STAGE_DIR = "/data/marketeye/stage/{{ ds_nodash }}"
OUT_DIR = "/data/marketeye/processed"
RUN_TS = "{{ ts_nodash }}"

default_args = {
    "retries": 1,
    "retry_delay": timedelta(minutes=5),
    "execution_timeout": timedelta(hours=1),
}


def stage(task_id: str, *app_args: str) -> SparkSubmitOperator:
    return SparkSubmitOperator(
        task_id=task_id,
        application=JAR,
        java_class="graft.pipeline.StageRunner",
        application_args=list(app_args),
    )


with DAG(
    dag_id="marketeye_spark_etl",
    schedule_interval="@daily",
    start_date=datetime(2026, 1, 1),
    catchup=False,
    max_active_runs=1,
    default_args=default_args,
) as dag:
    extracts = [
        stage(f"extract_{src}", f"extract_{src}", RAW_DIR, STAGE_DIR, RUN_TS)
        for src in ("avito", "jumia", "electroplanet")
    ]
    merge = stage("merge", "merge", STAGE_DIR)
    stats = stage("stats", "stats", STAGE_DIR)
    anomalies = stage("anomalies", "anomalies", STAGE_DIR)
    load = stage("load", "load", STAGE_DIR, OUT_DIR, RUN_TS)

    extracts >> merge >> stats >> [anomalies, load]
