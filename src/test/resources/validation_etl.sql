-- CONDITION_OCCURRENCE: spine_select
SELECT CAST(DIAGNOSIS.diagnosis_id AS BIGINT) AS DIAGNOSIS_diagnosis_id FROM CERNER_DIAGNOSIS AS DIAGNOSIS;

-- CONDITION_OCCURRENCE: spine_select
SELECT CAST(PROBLEM.problem_instance_id AS BIGINT) AS PROBLEM_problem_instance_id FROM CERNER_PROBLEM AS PROBLEM;

-- CONDITION_OCCURRENCE: skeleton
INSERT INTO omop.CONDITION_OCCURRENCE (condition_occurrence_id) SELECT id FROM mapping.CONDITION_OCCURRENCE;

-- LOCATION: spine_select
SELECT CAST(FACILITY_QUERY.loc_facility_cd AS BIGINT) AS FACILITY_QUERY_loc_facility_cd FROM (SELECT loc_facility_cd, active_ind FROM (
  SELECT loc_facility_cd, active_ind, row_number() OVER (PARTITION BY loc_facility_cd ORDER BY loc_facility_cd, active_ind) AS __rn
  from CERNER_ENCOUNTER AS ENCOUNTER
) WHERE __rn = 1 UNION SELECT loc_facility_cd, active_ind FROM (
  SELECT loc_facility_cd, active_ind, row_number() OVER (PARTITION BY loc_facility_cd ORDER BY loc_facility_cd, active_ind) AS __rn
  from CERNER_ENCNTR_LOC_HIST AS ENCNTR_LOC_HIST
) WHERE __rn = 1) AS FACILITY_QUERY;

-- LOCATION: spine_select
SELECT CAST(NURSE_UNIT_QUERY.loc_nurse_unit_cd AS BIGINT) AS NURSE_UNIT_QUERY_loc_nurse_unit_cd FROM (SELECT loc_nurse_unit_cd, loc_facility_cd, active_ind FROM (
  SELECT loc_nurse_unit_cd, loc_facility_cd, active_ind, row_number() OVER (PARTITION BY loc_nurse_unit_cd ORDER BY loc_nurse_unit_cd, loc_facility_cd, active_ind) AS __rn
  from CERNER_ENCOUNTER AS ENCOUNTER
) WHERE __rn = 1 UNION SELECT loc_nurse_unit_cd, loc_facility_cd, active_ind FROM (
  SELECT loc_nurse_unit_cd, loc_facility_cd, active_ind, row_number() OVER (PARTITION BY loc_nurse_unit_cd ORDER BY loc_nurse_unit_cd, loc_facility_cd, active_ind) AS __rn
  from CERNER_ENCNTR_LOC_HIST AS ENCNTR_LOC_HIST
) WHERE __rn = 1) AS NURSE_UNIT_QUERY;

-- LOCATION: spine_select
SELECT CAST(ADDRESS.address_id AS BIGINT) AS ADDRESS_address_id FROM CERNER_ADDRESS AS ADDRESS;

-- LOCATION: skeleton
INSERT INTO omop.LOCATION (location_id) SELECT id FROM mapping.LOCATION;

-- PERSON: spine_select
SELECT CAST(PERSON.person_id AS BIGINT) AS PERSON_person_id FROM CERNER_PERSON AS PERSON WHERE (PERSON.active_ind=1);

-- PERSON: skeleton
INSERT INTO omop.PERSON (person_id) SELECT id FROM mapping.PERSON;

-- VISIT_OCCURRENCE: spine_select
SELECT CAST(ENCOUNTER.encntr_id AS BIGINT) AS ENCOUNTER_encntr_id FROM cerner_ENCOUNTER AS ENCOUNTER;

-- VISIT_OCCURRENCE: skeleton
INSERT INTO omop.VISIT_OCCURRENCE (visit_occurrence_id) SELECT id FROM mapping.VISIT_OCCURRENCE;

-- CONDITION_OCCURRENCE: column_update
SELECT CONDITION_OCCURRENCE.id AS __id, (person.id) AS __val
FROM mapping_CONDITION_OCCURRENCE AS CONDITION_OCCURRENCE, CERNER_DIAGNOSIS AS DIAGNOSIS, mapping_person AS person
WHERE (DIAGNOSIS.diagnosis_id = CONDITION_OCCURRENCE.DIAGNOSIS_diagnosis_id) AND (person.PERSON_person_id IS NOT NULL) AND (person.PERSON_person_id = DIAGNOSIS.person_id);

-- CONDITION_OCCURRENCE: column_update
SELECT CONDITION_OCCURRENCE.id AS __id, (person.id) AS __val
FROM mapping_CONDITION_OCCURRENCE AS CONDITION_OCCURRENCE, CERNER_PROBLEM AS PROBLEM, mapping_person AS person
WHERE (PROBLEM.problem_instance_id = CONDITION_OCCURRENCE.PROBLEM_problem_instance_id) AND (person.PERSON_person_id IS NOT NULL) AND (person.PERSON_person_id = PROBLEM.person_id);

-- CONDITION_OCCURRENCE: column_update
SELECT CONDITION_OCCURRENCE.id AS __id, (CONCEPT_RELATIONSHIP.concept_id_2) AS __val
FROM mapping_CONDITION_OCCURRENCE AS CONDITION_OCCURRENCE, CERNER_DIAGNOSIS AS DIAGNOSIS, CERNER_NOMENCLATURE AS NOMENCLATURE, OMOP_CONCEPT AS CONCEPT, OMOP_CONCEPT_RELATIONSHIP AS CONCEPT_RELATIONSHIP
WHERE (DIAGNOSIS.diagnosis_id = CONDITION_OCCURRENCE.DIAGNOSIS_diagnosis_id) AND (DIAGNOSIS.nomenclature_id=NOMENCLATURE.nomenclature_id) AND (NOMENCLATURE.source_vocabulary_cd=10752) AND (NOMENCLATURE.source_identifier_keycap=CONCEPT.concept_code) AND (CONCEPT.vocabulary_id='ICD10') AND (CONCEPT.concept_id=CONCEPT_RELATIONSHIP.concept_id_1) AND (CONCEPT_RELATIONSHIP.relationship_id='Maps to');

-- CONDITION_OCCURRENCE: column_update
SELECT CONDITION_OCCURRENCE.id AS __id, (CONCEPT.concept_id) AS __val
FROM mapping_CONDITION_OCCURRENCE AS CONDITION_OCCURRENCE, CERNER_DIAGNOSIS AS DIAGNOSIS, CERNER_NOMENCLATURE AS NOMENCLATURE, OMOP_CONCEPT AS CONCEPT
WHERE (DIAGNOSIS.diagnosis_id = CONDITION_OCCURRENCE.DIAGNOSIS_diagnosis_id) AND (DIAGNOSIS.nomenclature_id=NOMENCLATURE.nomenclature_id) AND (NOMENCLATURE.source_vocabulary_cd=13837739) AND (substring(NOMENCLATURE.concept_cki, position('!' in NOMENCLATURE.concept_cki )+1, length(NOMENCLATURE.concept_cki))=CONCEPT.concept_code) AND (CONCEPT.vocabulary_id='SNOMED');

-- CONDITION_OCCURRENCE: column_update
SELECT CONDITION_OCCURRENCE.id AS __id, (CONCEPT_RELATIONSHIP.concept_id_2) AS __val
FROM mapping_CONDITION_OCCURRENCE AS CONDITION_OCCURRENCE, CERNER_PROBLEM AS PROBLEM, CERNER_NOMENCLATURE AS NOMENCLATURE, OMOP_CONCEPT AS CONCEPT, OMOP_CONCEPT_RELATIONSHIP AS CONCEPT_RELATIONSHIP, OMOP_VOCABULARY AS VOCABULARY
WHERE (PROBLEM.problem_instance_id = CONDITION_OCCURRENCE.PROBLEM_problem_instance_id) AND (PROBLEM.nomenclature_id=NOMENCLATURE.nomenclature_id) AND (NOMENCLATURE.source_vocabulary_cd=10752) AND (NOMENCLATURE.source_identifier_keycap=CONCEPT.concept_code) AND (CONCEPT.vocabulary_id='ICD10') AND (CONCEPT.concept_id=CONCEPT_RELATIONSHIP.concept_id_1) AND (CONCEPT_RELATIONSHIP.relationship_id='Maps to');

-- CONDITION_OCCURRENCE: column_update
SELECT CONDITION_OCCURRENCE.id AS __id, (CONCEPT.concept_id) AS __val
FROM mapping_CONDITION_OCCURRENCE AS CONDITION_OCCURRENCE, CERNER_PROBLEM AS PROBLEM, CERNER_NOMENCLATURE AS NOMENCLATURE, OMOP_CONCEPT AS CONCEPT
WHERE (PROBLEM.problem_instance_id = CONDITION_OCCURRENCE.PROBLEM_problem_instance_id) AND (PROBLEM.nomenclature_id=NOMENCLATURE.nomenclature_id) AND (NOMENCLATURE.source_vocabulary_cd=13837739) AND (substring(NOMENCLATURE.concept_cki, position('!' in NOMENCLATURE.concept_cki )+1, length(NOMENCLATURE.concept_cki))=CONCEPT.concept_code) AND (CONCEPT.vocabulary_id='SNOMED');

-- LOCATION: column_update
SELECT LOCATION.id AS __id, ('NSW') AS __val
FROM mapping_LOCATION AS LOCATION, (SELECT loc_facility_cd, active_ind FROM (
  SELECT loc_facility_cd, active_ind, row_number() OVER (PARTITION BY loc_facility_cd ORDER BY loc_facility_cd, active_ind) AS __rn
  from CERNER_ENCOUNTER AS ENCOUNTER
) WHERE __rn = 1 UNION SELECT loc_facility_cd, active_ind FROM (
  SELECT loc_facility_cd, active_ind, row_number() OVER (PARTITION BY loc_facility_cd ORDER BY loc_facility_cd, active_ind) AS __rn
  from CERNER_ENCNTR_LOC_HIST AS ENCNTR_LOC_HIST
) WHERE __rn = 1) AS FACILITY_QUERY
WHERE (FACILITY_QUERY.loc_facility_cd = LOCATION.FACILITY_QUERY_loc_facility_cd);

-- LOCATION: column_update
SELECT LOCATION.id AS __id, ('NSW') AS __val
FROM mapping_LOCATION AS LOCATION, (SELECT loc_nurse_unit_cd, loc_facility_cd, active_ind FROM (
  SELECT loc_nurse_unit_cd, loc_facility_cd, active_ind, row_number() OVER (PARTITION BY loc_nurse_unit_cd ORDER BY loc_nurse_unit_cd, loc_facility_cd, active_ind) AS __rn
  from CERNER_ENCOUNTER AS ENCOUNTER
) WHERE __rn = 1 UNION SELECT loc_nurse_unit_cd, loc_facility_cd, active_ind FROM (
  SELECT loc_nurse_unit_cd, loc_facility_cd, active_ind, row_number() OVER (PARTITION BY loc_nurse_unit_cd ORDER BY loc_nurse_unit_cd, loc_facility_cd, active_ind) AS __rn
  from CERNER_ENCNTR_LOC_HIST AS ENCNTR_LOC_HIST
) WHERE __rn = 1) AS NURSE_UNIT_QUERY
WHERE (NURSE_UNIT_QUERY.loc_nurse_unit_cd = LOCATION.NURSE_UNIT_QUERY_loc_nurse_unit_cd);

-- LOCATION: column_update
SELECT LOCATION.id AS __id, (ADDRESS.state) AS __val
FROM mapping_LOCATION AS LOCATION, CERNER_ADDRESS AS ADDRESS
WHERE (ADDRESS.address_id = LOCATION.ADDRESS_address_id);

-- LOCATION: column_update
SELECT LOCATION.id AS __id, (FACILITY_POSTCODE.target_postcode) AS __val
FROM mapping_LOCATION AS LOCATION, (SELECT loc_facility_cd, active_ind FROM (
  SELECT loc_facility_cd, active_ind, row_number() OVER (PARTITION BY loc_facility_cd ORDER BY loc_facility_cd, active_ind) AS __rn
  from CERNER_ENCOUNTER AS ENCOUNTER
) WHERE __rn = 1 UNION SELECT loc_facility_cd, active_ind FROM (
  SELECT loc_facility_cd, active_ind, row_number() OVER (PARTITION BY loc_facility_cd ORDER BY loc_facility_cd, active_ind) AS __rn
  from CERNER_ENCNTR_LOC_HIST AS ENCNTR_LOC_HIST
) WHERE __rn = 1) AS FACILITY_QUERY, EXTERNAL_FACILITY_POSTCODE AS FACILITY_POSTCODE
WHERE (FACILITY_QUERY.loc_facility_cd = LOCATION.FACILITY_QUERY_loc_facility_cd) AND (FACILITY_QUERY.loc_facility_cd=FACILITY_POSTCODE.source_facility_cd);

-- LOCATION: column_update
SELECT LOCATION.id AS __id, (FACILITY_POSTCODE.target_postcode) AS __val
FROM mapping_LOCATION AS LOCATION, (SELECT loc_nurse_unit_cd, loc_facility_cd, active_ind FROM (
  SELECT loc_nurse_unit_cd, loc_facility_cd, active_ind, row_number() OVER (PARTITION BY loc_nurse_unit_cd ORDER BY loc_nurse_unit_cd, loc_facility_cd, active_ind) AS __rn
  from CERNER_ENCOUNTER AS ENCOUNTER
) WHERE __rn = 1 UNION SELECT loc_nurse_unit_cd, loc_facility_cd, active_ind FROM (
  SELECT loc_nurse_unit_cd, loc_facility_cd, active_ind, row_number() OVER (PARTITION BY loc_nurse_unit_cd ORDER BY loc_nurse_unit_cd, loc_facility_cd, active_ind) AS __rn
  from CERNER_ENCNTR_LOC_HIST AS ENCNTR_LOC_HIST
) WHERE __rn = 1) AS NURSE_UNIT_QUERY, EXTERNAL_FACILITY_POSTCODE AS FACILITY_POSTCODE
WHERE (NURSE_UNIT_QUERY.loc_nurse_unit_cd = LOCATION.NURSE_UNIT_QUERY_loc_nurse_unit_cd) AND (NURSE_UNIT_QUERY.loc_facility_cd=FACILITY_POSTCODE.source_facility_cd);

-- LOCATION: column_update
SELECT LOCATION.id AS __id, (ADDRESS.zipcode) AS __val
FROM mapping_LOCATION AS LOCATION, CERNER_ADDRESS AS ADDRESS
WHERE (ADDRESS.address_id = LOCATION.ADDRESS_address_id);

-- PERSON: column_update
SELECT PERSON.id AS __id, (extract(year FROM PERSON.birth_dt_tm)) AS __val
FROM mapping_PERSON AS PERSON, CERNER_PERSON AS PERSON
WHERE (PERSON.person_id = PERSON.PERSON_person_id);

-- PERSON: column_update
SELECT PERSON.id AS __id, (PERSON.deceased_dt_tm) AS __val
FROM mapping_PERSON AS PERSON, CERNER_PERSON AS PERSON
WHERE (PERSON.person_id = PERSON.PERSON_person_id);

-- PERSON: column_update
SELECT PERSON.id AS __id, (CODE_VALUE.display) AS __val
FROM mapping_PERSON AS PERSON, CERNER_PERSON AS PERSON, CERNER_CODE_VALUE AS CODE_VALUE
WHERE (PERSON.person_id = PERSON.PERSON_person_id) AND (PERSON.sex_cd=CODE_VALUE.code_value);

-- VISIT_OCCURRENCE: column_update
SELECT VISIT_OCCURRENCE.id AS __id, (person.id) AS __val
FROM mapping_VISIT_OCCURRENCE AS VISIT_OCCURRENCE, cerner_ENCOUNTER AS ENCOUNTER, mapping_person AS person
WHERE (ENCOUNTER.encntr_id = VISIT_OCCURRENCE.ENCOUNTER_encntr_id) AND (person.PERSON_person_id IS NOT NULL) AND (person.PERSON_person_id = ENCOUNTER.person_id);
