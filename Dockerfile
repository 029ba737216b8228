# Deployment shell for the PySpark ETL web API (reference ships
# Dockerfile + docker-compose.yml + start.sh; this is the Spark-native
# equivalent: one container, one SparkSession in local mode serving
# background ETL jobs over HTTP).
FROM python:3.11-slim

# Spark needs a JVM; headless JRE keeps the image small.
RUN apt-get update \
    && apt-get install -y --no-install-recommends openjdk-17-jre-headless curl \
    && rm -rf /var/lib/apt/lists/*
ENV JAVA_HOME=/usr/lib/jvm/java-17-openjdk-amd64

RUN pip install --no-cache-dir \
    pyspark==4.1.2 pyarrow pandas numpy uvicorn

WORKDIR /app
COPY laposte_data_engineering_jedha_spark /app/laposte_data_engineering_jedha_spark

# local[*] inside the container; shuffle partitions sized for a single node
ENV SPARK_GRAFT_CPUS=*
EXPOSE 8000

HEALTHCHECK --interval=30s --timeout=5s --start-period=60s \
    CMD curl -fs http://localhost:8000/ || exit 1

CMD ["python", "-m", "laposte_data_engineering_jedha_spark.plans.serve", \
     "--host", "0.0.0.0", "--port", "8000"]
