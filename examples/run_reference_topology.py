"""Runnable end-to-end demo of the full reference topology.

Mirrors what `docker-compose up` + `user-generator.py` + the Flink job
do in the reference (Main.java:45-183), self-contained on local[*]:

1. generate the reference workload (N users x 3 addresses,
   user-generator.py:27,52) with the distributed generator;
2. feed both streams through the stateful emit-per-event join;
3. fan out to the three keyed upsert sinks (userAddress,
   userCountByState, userCountByCountry — Main.java:170-179);
4. print each sink table, i.e. what the reference's Mongo collections
   would contain.

Run: ``python examples/run_reference_topology.py [n_users]``
"""

import json
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from data_stream_flink_user_address_spark.plans.pipeline import ReferencePipeline
from data_stream_flink_user_address_spark.schemas import ADDRESS_SCHEMA, USER_SCHEMA
from data_stream_flink_user_address_spark.session import get_spark
from data_stream_flink_user_address_spark.sources.generator import (
    generate_addresses,
    generate_users,
)

from pyspark.sql import functions as F
from pyspark.sql import types as T


def main(n_users: int = 10) -> None:
    spark = get_spark("reference-topology-demo", shuffle_partitions=8)
    work = tempfile.mkdtemp(prefix="ref_topology_")
    udir, adir = os.path.join(work, "users"), os.path.join(work, "addresses")
    os.makedirs(udir)
    os.makedirs(adir)

    # 1. the producer: write the generated workload as JSON stream files
    #    (stand-in for the two Kafka topics; swap in sources/kafka.py for
    #    a real broker)
    users = generate_users(spark, n=n_users).withColumn(
        "seq", F.monotonically_increasing_id()
    )
    addresses = generate_addresses(spark, n_users=n_users).withColumn(
        "seq", F.monotonically_increasing_id() + 1_000_000
    )
    for df, d in ((users, udir), (addresses, adir)):
        rows = [r.asDict() for r in df.collect()]
        with open(os.path.join(d, "events.json"), "w") as f:
            for r in rows:
                r["registerDate"] = str(r["registerDate"]) if r.get("registerDate") else None
                f.write(json.dumps(r) + "\n")

    # 2-3. the job: streams -> stateful join -> windows -> upsert sinks
    user_seq = T.StructType(USER_SCHEMA.fields + [T.StructField("seq", T.LongType())])
    addr_seq = T.StructType(ADDRESS_SCHEMA.fields + [T.StructField("seq", T.LongType())])
    pipe = ReferencePipeline(
        spark,
        spark.readStream.schema(user_seq).json(udir),
        spark.readStream.schema(addr_seq).json(adir),
        out_dir=os.path.join(work, "out"),
        checkpoint_dir=os.path.join(work, "ckpt"),
    )
    pipe.start()
    try:
        pipe.process_all()
    finally:
        pipe.stop()

    # 4. what the Mongo collections would hold
    for table in ("userAddress", "userCountByState", "userCountByCountry"):
        print(f"\n=== {table} ===")
        # __bucket / __epoch / __run are sink-internal (partition key,
        # replay guard)
        t = pipe.sinks[table].read().drop("__bucket", "__epoch", "__run")
        t.orderBy(t.columns[0]).show(10, truncate=60)

    shutil.rmtree(work)
    spark.stop()


if __name__ == "__main__":
    main(int(sys.argv[1]) if len(sys.argv) > 1 else 10)
