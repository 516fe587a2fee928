"""spark-submit launcher for the KG pipeline (north-rule launch mode)::

    make dist    # builds dist/ehr_ner_spark.zip from the tree
    spark-submit --py-files dist/ehr_ner_spark.zip jobs/run_kg_pipeline.py \
        --sf-dir /root/testdata/sf0.01 --table-root /tmp/kg --buckets 16

The package arrives via --py-files; this file is only the __main__ shim
(a package module submitted directly cannot use relative imports).
Re-running after a crash resumes from the last committed bucket manifest.
"""

from ehr_ner_spark.pipeline import main

if __name__ == "__main__":
    main()
